package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write `.explain("formatted")` for named declared queries to
  * files (the rNN optimization-evidence artifacts under plans/). Bench
  * session shape, so the dumped plan is the one the bench executes.
  *
  * Usage: runMain graft.PlanDump <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_PLAN_DIR
  * (default plans/r15), SPARK_GRAFT_PLAN_SUFFIX (e.g. "_before").
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r15")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      // full Location/PushedFilters detail (the PlanAudit lesson: the 100-char
      // default truncates scan metadata mid-path)
      .config("spark.sql.maxMetadataStringLength", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val byName = SparkEntry.queries
    args.foreach { name =>
      require(byName.contains(name), s"unknown query: $name")
      val df = byName(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
