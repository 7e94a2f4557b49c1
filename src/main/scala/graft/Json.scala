package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The harnesses' JSON writer: Jackson over ordered maps, with
  * fixed-point numbers where a report pins a number of decimals. */
private[graft] object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A JSON object of `kv` in order; a repeated key keeps its first
    * position and its last value, as a JSON reader would see it. */
  def obj(kv: (String, Any)*): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Finite `v` rounded half-up to `scale` (at most 6) decimals and
    * written with exactly that many, as `f"$v%.3f"` writes it. */
  def fixed(v: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
