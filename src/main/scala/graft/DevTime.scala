package graft
/** Dev-only single-query timer: runMain graft.DevTime <name> [reps] —
  * times SparkEntry.queries(name) on SPARK_GRAFT_SF_DIR with the Bench
  * session config (table caches warmed the same way). */
object DevTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      if (f.exists()) spark.read.parquet(f.getPath).cache().count()
    }
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[devtime] $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
