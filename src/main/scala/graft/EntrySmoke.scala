package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3)
    spark.stop()
  }
}
