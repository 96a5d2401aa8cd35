package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{avg, col, count, lit}

/** Unit coverage for the close gate's scan counter — the tree walk that
  * turns an executed plan into per-base-table scan counts. The gate refuses
  * plans above PlanAudit.scanBounds, so the walker itself needs pinning:
  * a regression here silently disables the double-scan refusal.
  */
class PlanAuditScanSpec extends SparkSpec {

  private def tree(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    PlanAudit.nodes(df.queryExecution.executedPlan)
  }

  private def table(name: String): DataFrame = spark.read.parquet(s"$sf0001/$name.parquet")

  /** A one-column parquet table written to `<new temp dir>/stem.parquet`; its path. */
  private def written(dirPrefix: String, stem: String): String = {
    val path = java.nio.file.Files.createTempDirectory(dirPrefix).resolve(s"$stem.parquet").toString
    spark.range(10).write.parquet(path)
    path
  }

  test("counts scans per base table from Location entries") {
    val l = table("lineitem")
    val df = l.select(col("l_orderkey").as("k"))
      .join(table("orders").select(col("o_orderkey").as("k")), "k")
      .union(l.select(col("l_partkey").as("k")))
    assert(PlanAudit.tableScans(tree(df)) === Map("lineitem" -> 2, "orders" -> 1))
  }

  test("landed-stage re-reads are excluded; multi-path indexes count once") {
    val landed = spark.read.parquet(written("graft_stage_spec", "data"))
    assert(PlanAudit.tableScans(tree(landed)) === Map.empty)
    val twoPaths = spark.read.parquet(written("first", "events"), written("second", "events"))
    assert(PlanAudit.tableScans(tree(twoPaths)) === Map("events" -> 1))
  }

  test("declared bounds: default is 2, exceptions resolve by name") {
    assert(PlanAudit.scanBound("some_new_query") === PlanAudit.defaultScanBound)
    assert(PlanAudit.scanBound("funnel_view_click_purchase") === 5)
    assert(PlanAudit.scanBounds.values.forall(_ > PlanAudit.defaultScanBound),
      "an exception at or below the default is dead weight")
    assert(PlanAudit.auxScanBound("some_new_query") === PlanAudit.defaultScanBound)
    assert(PlanAudit.auxScanBounds.values.forall(_ > PlanAudit.defaultScanBound),
      "an aux exception at or below the default is dead weight")
  }

  test("stream bounds: default 2, declared exceptions above it") {
    assert(PlanAudit.streamScanBound("stream_whatever") ===
      PlanAudit.defaultScanBound)
    assert(PlanAudit.streamScanBounds.values.forall(_ > PlanAudit.defaultScanBound),
      "a stream exception at or below the default is dead weight")
  }

  test("locationMismatch flags truncated or format-drifted Location entries") {
    // every v1 file scan names its table ...
    assert(PlanAudit.unnamedScans(tree(table("orders"))) === 0)
    // ... but a v2 file-table scan carries no file index to name it by
    val v2 = spark.newSession()
    v2.conf.set("spark.sql.sources.useV1SourceList", "")
    val plan = tree(v2.read.parquet(s"$sf0001/orders.parquet"))
    assert(PlanAudit.unnamedScans(plan) === 1)
    assert(PlanAudit.tableScans(plan) === Map.empty)
  }

  test("a scan path longer than 100 characters counts under the default metadata length") {
    assert(spark.conf.get("spark.sql.maxMetadataStringLength") === "100")
    val path = written("long_" + "d" * 120, "long_path_table")
    assert(path.length > 100)
    assert(PlanAudit.tableScans(tree(spark.read.parquet(path))) === Map("long_path_table" -> 1))
  }

  test("a scalar-subquery plan counts both of its scans") {
    val df = table("lineitem")
      .filter(col("l_extendedprice") > table("orders").select(avg("o_totalprice")).scalar())
    assert(PlanAudit.tableScans(tree(df)) === Map("lineitem" -> 1, "orders" -> 1))
  }

  test("a self-join over one reused shuffle reports one shuffle") {
    val agg = table("orders").groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val plan = tree(agg.as("x").join(agg.as("y"), col("x.o_custkey") === col("y.o_custkey")))
    assert(plan.count(_.isInstanceOf[ReusedExchangeExec]) === 1, "the shuffle was not reused")
    assert(plan.count(_.isInstanceOf[ShuffleExchangeLike]) === 1)
  }

  test("a cache read twice charges its base scan once") {
    val c = table("orders").select("o_orderkey", "o_orderstatus").cache()
    try {
      val plan = tree(c.filter(col("o_orderstatus") === "F")
        .union(c.filter(col("o_orderstatus") === "O")))
      assert(plan.count(_.isInstanceOf[InMemoryTableScanExec]) === 2)
      assert(PlanAudit.tableScans(plan) === Map("orders" -> 1))
    } finally c.unpersist(blocking = true)
  }
}
