package perfbench

/** Minimal JSON writer for the control protocol (numbers, strings,
  * booleans, null, sequences and string-keyed maps). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + graft.surface.StackJson.escape(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => apply(o.toString)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse a JSON object into Scala maps/sequences (numbers stay Java
    * boxes: Integer/Long/Double). */
  def parse(s: String): Map[String, Any] =
    toScala(mapper.readValue(s, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  private def toScala(v: Any): Any = {
    import scala.jdk.CollectionConverters._
    v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
      case l: java.util.List[_] => l.asScala.map(toScala).toVector
      case o => o
    }
  }
}
