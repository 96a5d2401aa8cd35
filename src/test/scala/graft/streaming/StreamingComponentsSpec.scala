package graft.streaming

import graft.SparkSpec
import graft.dedup.Components
import org.apache.spark.sql.functions._

/** Incremental connected components as the per-micro-batch clustering step:
  * each batch folds its new near-dup edges into the running labels via
  * [[Components.incrementalComponents]] — old components contract to one
  * supernode each, so history is never recomputed. The invariant proven here is the
  * one a streaming dedup pipeline needs: after any batch split, incremental
  * labels == full recompute over all edges seen so far.
  */
class StreamingComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  test("incremental fold of edge batches equals full recompute at every step") {
    // component structure: {1..4} chained, {5,6}, {7} singleton, and batch 2
    // BRIDGES {1..4} with {5,6} via (4,5) — the hard merge case
    val nodes1 = (1L to 6L).toDF("id")
    val batch1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val nodes2 = Seq(7L).toDF("id")
    val batch2 = Seq((4L, 5L)).toDF("a", "b")

    val l1 = Components.connectedComponents(nodes1, "id", batch1, "a", "b")
    assert(labels(l1) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L))

    val l2 = Components.incrementalComponents(l1, nodes2, "id", batch2, "a", "b")
    val full = Components.connectedComponents(
      (1L to 7L).toDF("id"), "id",
      batch1.union(batch2), "a", "b")
    assert(labels(l2) === labels(full))
    assert(labels(l2)(6L) === 1L, "bridged component takes the global min id")
    assert(labels(l2)(7L) === 7L, "new singleton stays its own component")
  }

  test("incremental convergence is shallow: shortcut edges compress history") {
    // a 32-node path built over one big batch needs ~log2 rounds; adding one
    // edge to its end afterwards clusters only that edge, because the whole
    // old path contracts to its one supernode (comp id 1)
    val n = 32L
    val nodes = (1L to n).toDF("id")
    val path = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val l1 = Components.connectedComponents(nodes, "id", path, "a", "b")

    val l2 = Components.incrementalComponents(l1, Seq(n + 1).toDF("id"), "id",
      Seq((n, n + 1)).toDF("a", "b"), "a", "b")
    assert(labels(l2).values.toSet === Set(1L))
  }

  test("batches arriving over a stream keep labels consistent (foreachBatch shape)") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    var running: Option[org.apache.spark.sql.DataFrame] = None
    var allEdges = Seq.empty[(Long, Long)]

    val q = input.toDF().toDF("a", "b").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val edges = batch.as[(Long, Long)].collect().toSeq
        if (edges.nonEmpty) {
          allEdges ++= edges
          val newNodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("id")
          running = Some(running match {
            case None =>
              Components.connectedComponents(newNodes, "id",
                edges.toDF("a", "b"), "a", "b").localCheckpoint()
            case Some(prev) =>
              Components.incrementalComponents(prev, newNodes, "id",
                edges.toDF("a", "b"), "a", "b").localCheckpoint()
          })
        }
      }.start()
    try {
      input.addData((10L, 11L), (12L, 13L))
      q.processAllAvailable()
      input.addData((11L, 12L)) // merges the two pairs
      q.processAllAvailable()
      val expect = Components.connectedComponents(
        allEdges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("id"), "id",
        allEdges.toDF("a", "b"), "a", "b")
      assert(labels(running.get) === labels(expect))
      assert(labels(running.get).values.toSet === Set(10L))
    } finally q.stop()
  }
}
