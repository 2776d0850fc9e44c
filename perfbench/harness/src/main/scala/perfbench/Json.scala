package perfbench

import scala.collection.mutable

/** The few JSON shapes the harness writes: objects, arrays, strings,
  * numbers and booleans. */
object Json {
  final class Obj {
    private val fields = mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = fields(k) = v
    def render: String = Json.render(this)
    private[Json] def entries: Iterable[(String, Any)] = fields
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case o: Obj => o.entries.map { case (k, x) => s"${str(k)}:${render(x)}" }.mkString("{", ",", "}")
    case m: collection.Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
  }
}
