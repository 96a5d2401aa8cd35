package graft
object SmokeMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, false)
    spark.stop()
  }
}
