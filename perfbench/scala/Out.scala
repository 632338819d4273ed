package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Minimal JSON writer for the raw measurement record. The record holds
  * only numbers, strings, booleans, nulls, sequences and string-keyed maps. */
object Out {
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (java.lang.Double.isFinite(d)) java.lang.Double.toString(d) else "null"
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => json(n.doubleValue())
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }

  /** Rows as TSV under a header line; NULL is `\N`. Values never hold tabs
    * or newlines in this benchmark's data. */
  def writeTsv(path: Path, header: Seq[String], rows: Iterator[Seq[String]]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try {
      w.write(header.mkString("\t")); w.write('\n')
      rows.foreach { r =>
        w.write(r.map(v => if (v == null) "\\N" else v).mkString("\t")); w.write('\n')
      }
    } finally w.close()
  }
}
