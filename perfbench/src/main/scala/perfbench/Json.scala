package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** JSON through the Jackson that ships with Spark. Scala maps keep their
  * iteration order. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double => java.lang.Double.valueOf(d)
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def writePretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(toJava(v))

  def read(text: String): JsonNode = mapper.readTree(text)
}
