package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** The session builder sizes Spark's JVM-wide generated-code cache to the
  * engine's working set ([[GraftSession]]), so a query re-run after many
  * other queries compiled their own classes reuses its classes.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm query compiles nothing after the cache has seen >100 other classes") {
    def first() = spark.range(10).select((col("id") % 3).as("k")).groupBy("k").count()
      .collect()
    first()
    val before = compiles
    // an integer literal is inlined into the generated code, so each i is
    // a new class
    (1 to 150).foreach(i => spark.range(3).select(col("id") * lit(i)).collect())
    assert(compiles - before >= 150, "each literal compiles its own class")
    val warm = compiles
    first()
    assert(compiles === warm, "the first query's classes were evicted and recompiled")
  }
}
