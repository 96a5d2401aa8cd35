package graft.relational

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  test("byValue matches a single-partition window rank on a random frame") {
    // deterministic pseudo-random values WITH duplicates (ties broken by id)
    val df = (1L to 500L).map(i => (i, (i * 2654435761L) % 97L))
      .toDF("id", "v")
    val (ranked, n) = GlobalRank.byValue(df, "v", "id", "r", numBuckets = 8)
    assert(n === 500L)
    val expected = df.withColumn("exp",
      row_number().over(Window.orderBy(col("v"), col("id"))))
    val diff = ranked.join(expected, Seq("id", "v"))
      .filter(col("r") =!= col("exp")).count()
    assert(diff === 0L)
  }

  test("ntileFromRank matches both engines' remainder-first ntile") {
    // n=7, k=5 tiles as 2,2,1,1,1 (verified against DuckDB)
    val df = (1L to 7L).map(i => (i, i)).toDF("id", "v")
    val (ranked, n) = GlobalRank.byValue(df, "v", "id", "r")
    val got = ranked
      .select(col("id"), GlobalRank.ntileFromRank("r", n, 5).as("t"))
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(got === Seq(1L, 1L, 2L, 2L, 3L, 4L, 5L))
    // and against Spark's own ntile on the same order
    val spk = df.select(col("id"),
      ntile(5).over(Window.orderBy(col("v"), col("id"))).as("t"))
      .as[(Long, Int)].collect().sortBy(_._1).map(_._2.toLong).toSeq
    assert(got === spk)
  }

  test("n < k degenerates to one row per tile, like ntile") {
    val df = (1L to 3L).map(i => (i, 10L - i)).toDF("id", "v")
    val (ranked, n) = GlobalRank.byValue(df, "v", "id", "r")
    val got = ranked
      .select(col("id"), GlobalRank.ntileFromRank("r", n, 5).as("t"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    // v descending in id → id 3 has the smallest v → rank 1 → tile 1
    assert(got === Seq((1L, 3L), (2L, 2L), (3L, 1L)))
  }

  test("misuse fails loudly: null values, concentrated cells past the cap") {
    val withNull = Seq((1L, Some(5L)), (2L, None)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      GlobalRank.byValue(withNull, "v", "id", "r"))
    assert(e.getMessage.contains("non-null"))
    // every row the same value → one cell holds all; small-n escape hatch
    // (≤1e6 rows) admits it, so force the share path with a tiny cap
    val flat = (1L to 100L).map(i => (i, 7L)).toDF("id", "v")
    val (ok, _) = GlobalRank.byValue(flat, "v", "id", "r")
    assert(ok.filter(col("r") === 100L).count() === 1L)
  }

  test("byValues matches chained byValue on every column") {
    // three signal columns with different distributions and duplicates
    val df = (1L to 400L).map(i =>
      (i, (i * 2654435761L) % 97L, (i * 40503L) % 13L, i % 5L))
      .toDF("id", "a", "b", "c")
    val (multi, n) = GlobalRank.byValues(df, Seq("a", "b", "c"), "id",
      Seq("ra", "rb", "rc"), numBuckets = 8)
    assert(n === 400L)
    def exp(v: String) = row_number().over(Window.orderBy(col(v), col("id")))
    val expected = df.withColumn("ea", exp("a"))
      .withColumn("eb", exp("b")).withColumn("ec", exp("c"))
    val diff = multi.join(expected, Seq("id"))
      .filter(col("ra") =!= col("ea") || col("rb") =!= col("eb") ||
        col("rc") =!= col("ec")).count()
    assert(diff === 0L)
    // no scratch columns leak
    assert(!multi.columns.exists(c => c.startsWith("__cell") ||
      c.startsWith("__off")))
  }

  test("byValues misuse fails loudly: null column, duplicate valueCols") {
    val withNull = Seq((1L, 5L, Some(5L)), (2L, 4L, None)).toDF("id", "a", "b")
    val e = intercept[IllegalArgumentException](
      GlobalRank.byValues(withNull, Seq("a", "b"), "id", Seq("ra", "rb")))
    assert(e.getMessage.contains("non-null"))
    val dup = intercept[IllegalArgumentException](
      GlobalRank.byValues(withNull, Seq("a", "a"), "id", Seq("r1", "r2")))
    assert(dup.getMessage.contains("distinct"))
  }

  test("byValues on an empty frame returns zero and typed columns") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("id", "a", "b")
    val (ranked, n) = GlobalRank.byValues(empty, Seq("a", "b"), "id",
      Seq("ra", "rb"))
    assert(n === 0L)
    assert(ranked.columns.contains("ra") && ranked.columns.contains("rb") &&
      ranked.count() === 0L)
  }

  test("empty frame returns zero total and a typed rank column") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    val (ranked, n) = GlobalRank.byValue(empty, "v", "id", "r")
    assert(n === 0L)
    assert(ranked.columns.contains("r") && ranked.count() === 0L)
  }

  test("a source rewritten in place is re-ranked against its new model") {
    // the model memo keys the plan's file versions: re-reading a rewritten
    // directory must not reuse the model of the files it replaced
    val dir = java.nio.file.Files.createTempDirectory("globalrank_spec_rewrite").toString
    (1L to 3L).map(i => (i, i * 10L)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val (_, n1) = GlobalRank.byValue(spark.read.parquet(dir), "v", "id", "r")
    assert(n1 === 3L)
    (1L to 8L).map(i => (i, i * 100L)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val (ranked, n2) = GlobalRank.byValue(spark.read.parquet(dir), "v", "id", "r")
    assert(n2 === 8L)
    assert(ranked.select("id", "r").as[(Long, Long)].collect().sorted.toSeq ===
      (1L to 8L).map(i => (i, i)))
  }
}
