package graft

/** Dev-loop plan inspector: print the formatted physical plan of one or
  * more SparkEntry queries without executing them.
  * Usage: runMain graft.Explain <sfDir> <name> [<name> ...]
  * Set SPARK_GRAFT_AQE=false to see the static plan (plan-shape pins in
  * PlanSpec use the same switch pattern).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val names = args.drop(1).toSeq
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = GraftSession.builder(8)
      .config("spark.sql.adaptive.enabled", aqe).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
