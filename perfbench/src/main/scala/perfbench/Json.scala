package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Writes the harness's report and span files with the Jackson mapper
  * that Spark ships. A non-empty sequence of (name, value) pairs becomes
  * an object with its fields in order, any other sequence an array;
  * non-finite numbers become null. */
object Json {
  private val mapper = new ObjectMapper()

  private def isFields(s: Seq[_]): Boolean =
    s.nonEmpty && s.forall { case (_: String, _) => true; case _ => false }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => fields(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] if isFields(s) =>
      fields(s.collect { case (k: String, x) => k -> x })
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  private def fields(s: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val o = new java.util.LinkedHashMap[String, Any]()
    s.foreach { case (k, x) => o.put(k, toJava(x)) }
    o
  }

  def apply(v: Any): String = mapper.writeValueAsString(toJava(v))
}
