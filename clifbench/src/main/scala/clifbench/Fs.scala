package clifbench

import java.io.File

/** File-system helpers for the benchmark's own work directories. */
object Fs {

  /** Total bytes of the regular files under `f` (or of `f` itself). */
  def treeBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  /** Minimal JSON rendering for the result line and the span dump. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.toSeq
      .map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(scala.collection.immutable.ListMap.from(
        p.productElementNames.zip(p.productIterator)))
    case other => json(other.toString)
  }
}
