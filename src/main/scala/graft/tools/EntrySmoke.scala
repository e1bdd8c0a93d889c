package graft.tools
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.batch()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    df.show(10, false)
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}
