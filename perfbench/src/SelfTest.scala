package perfbench

/** Tracer self-check behind `perfbench/tests/test_tracer.py`: runs one
  * analytic gate traced as the benchmark runs it (op 0), then again with
  * one extra `count()` of the gate's frame before the run (op 1), then
  * that `count()` alone (op 2), and writes the spans as JSON.
  *
  * {{{ SelfTest DATA_DIR WORK_DIR OUT_FILE CORES }}} */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(data, work, out, cores) = args
    val spark = Main.session(cores.toInt, work)
    val dir = s"$data/sf0.01"
    val gate: Gates.Gate = graft.SparkEntry.queries("q6_forecast_revenue")
    Gates.force(spark, gate, dir)
    val tracer = new Tracer(spark, enabled = true)
    tracer.span("pass", 0)(tracer.span("queries", 0)(Gates.force(spark, gate, dir)))
    val counted: Gates.Gate = (s, d) => { val df = gate(s, d); df.count(); df }
    tracer.span("pass", 1)(tracer.span("queries", 1)(Gates.force(spark, counted, dir)))
    graft.CacheScope.withScope { _ =>
      val df = gate(spark, dir) // building the frame lists its files
      tracer.span("pass", 2)(tracer.span("queries", 2)(df.count()))
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      mapper.writeValueAsString(Map("spans" -> tracer.toSeq)))
    spark.stop()
  }
}
