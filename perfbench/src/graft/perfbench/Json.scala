package graft.perfbench

/** The benchmark's one JSON writer. Every value is typed: numbers render
  * as JSON numbers, strings are always quoted and escaped, so no value
  * is ever spliced into the output as raw text.
  */
sealed trait Json

object Json {
  final case class Num(v: Double) extends Json {
    require(!v.isNaN && !v.isInfinite, s"JSON cannot encode $v")
  }
  final case class Whole(v: Long) extends Json
  final case class Str(v: String) extends Json
  final case class Bool(v: Boolean) extends Json
  final case class Obj(fields: Seq[(String, Json)]) extends Json {
    require(fields.map(_._1).distinct.size == fields.size,
      s"duplicate keys in ${fields.map(_._1)}")
  }

  def obj(fields: (String, Json)*): Obj = Obj(fields)

  def render(j: Json): String = {
    val sb = new StringBuilder
    write(j, sb)
    sb.toString
  }

  private def write(j: Json, sb: StringBuilder): Unit = j match {
    // shortest decimal that reads back as the same double: all digits kept
    case Num(v)    => sb.append(java.lang.Double.toString(v))
    case Whole(v)  => sb.append(v)
    case Str(v)    => quote(v, sb)
    case Bool(v)   => sb.append(v)
    case Obj(kvs)  =>
      sb.append('{')
      kvs.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        quote(k, sb)
        sb.append(':')
        write(v, sb)
      }
      sb.append('}')
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"')
  }

  /** Read a document back with an independent parser (json4s), for the
    * writer's round-trip self-test.
    */
  def parse(s: String): Json = {
    import org.json4s._
    def conv(v: JValue): Json = v match {
      case JDouble(d)  => Num(d)
      case JDecimal(d) => Num(d.toDouble)
      case JLong(l)    => Whole(l)
      case JInt(i)     => Whole(i.toLong)
      case JString(x)  => Str(x)
      case JBool(b)    => Bool(b)
      case JObject(fs) => Obj(fs.map { case (k, x) => k -> conv(x) })
      case other       => sys.error(s"unexpected JSON value $other")
    }
    conv(org.json4s.jackson.JsonMethods.parse(s))
  }
}
