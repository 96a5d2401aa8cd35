package graft.functions

import graft.SparkSpec
import graft.vector.VectorFunctions
import org.apache.spark.sql.functions._

class FuseVectorFoldsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("optimizer fuses HOF dot/cosine folds into native expressions") {
    // newSession() clones (the stream and bucketing sessions) inherit the
    // rule from the session's extensions
    Seq(spark, spark.newSession()).foreach { s =>
      val e = s.read.parquet(s"$sf0001/embeddings.parquet")
      val pairs = e.select(col("embedding").as("a"))
        .crossJoin(e.limit(3).select(col("embedding").as("b")))
      val folded = pairs.select(
        VectorFunctions.dotFold(col("a"), col("b")).as("d"),
        VectorFunctions.cosineFold(col("a"), col("b")).as("c"))
      val optimized = folded.queryExecution.optimizedPlan.toString
      assert(optimized.contains("vec_cosine"), s"cosine fold not fused:\n$optimized")
      assert(!optimized.contains("aggregate(zip_with"),
        s"HOF fold survived optimization:\n$optimized")
    }
  }

  test("fused plan returns bitwise-identical results") {
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.limit(5).select(col("embedding").as("b")))
    // fold form (will be fused by the rule) vs explicit native call
    val n = pairs.select(
      VectorFunctions.cosineFold(col("a"), col("b")).as("x"),
      VectorFunctions.cosine(col("a"), col("b")).as("y"))
      .filter(col("x") =!= col("y")).count()
    assert(n === 0L)
  }

  test("rule leaves non-matching folds untouched") {
    // sum of elements (not a dot product) must not be rewritten
    val df = emb.select(VectorFunctions.foldSum(
      col("embedding").cast("array<double>")).as("s"))
    assert(df.queryExecution.optimizedPlan.toString.contains("aggregate("))
    assert(df.agg(sum("s")).head().getDouble(0) != 0.0)
  }
}
