package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Just enough JSON for the ledger and the result file: objects become
  * `Map[String, Any]`, arrays `Seq[Any]`, and every number a Double.
  */
object Json {
  private val mapper = new ObjectMapper()

  def parse(s: String): Any = convert(mapper.readValue(s, classOf[Object]))

  private def convert(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> convert(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(convert).toVector
    case n: java.lang.Number => n.doubleValue()
    case other => other
  }

  def render(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = mapper.writeValueAsString(s)
}
