package graft

/** The one JSON writer for run records (Bench, Probe, ScalingBench, Verify, the
  * metrics listener, the checkpoint manifest). Objects keep their field order;
  * strings escape quote, backslash and every control char below 0x20, so a tab or
  * CR in a value cannot break a reader's parse. Non-finite doubles write `null`.
  */
private[graft] object Json {
  /** A JSON object whose fields keep their order. */
  final case class Obj(fields: (String, Any)*)
  /** Text written as is: a pre-rendered object or a fixed-format number. */
  final case class RawJson(text: String)

  def apply(v: Any): String = v match {
    case Obj(fs @ _*) => fs.map { case (k, x) => apply(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case RawJson(text) => text
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case o: Option[_] => o.fold("null")(apply)
    case xs: Seq[_] => xs.map(apply).mkString("[", ",", "]")
    case x => x.toString
  }
}
