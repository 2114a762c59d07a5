package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON reading (Jackson ships with Spark) and writing. */
object Json {
  private val mapper = new ObjectMapper()

  /** Parses a file into nested Scala maps, sequences and scalars. */
  def read(path: String): Any = toScala(mapper.readValue(new java.io.File(path), classOf[Object]))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case x => x
  }

  def str(s: String): String = mapper.writeValueAsString(s)

  def write(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(write).mkString("[", ",", "]")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case null => "null"
    case x => x.toString
  }
}
