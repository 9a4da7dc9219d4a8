package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Minimal JSON encoding for the harness's raw records: maps, sequences,
  * strings, booleans and numbers. Non-finite doubles encode as null. */
object Json {
  def enc(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(enc).mkString("[", ",", "]")
    case xs: Array[_] => xs.iterator.map(enc).mkString("[", ",", "]")
    case o: Option[_] => o.map(enc).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Append-only JSON-lines sink for the raw records one run produces.
  * `run.py` turns them into metrics; nothing is aggregated here. */
final class Records(path: String) {
  private val out = new BufferedWriter(new OutputStreamWriter(
    Files.newOutputStream(Paths.get(path)), StandardCharsets.UTF_8))

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.write(Json.enc(scala.collection.immutable.ListMap(("rec" -> kind) +: fields: _*)))
    out.newLine()
  }

  def close(): Unit = synchronized { out.close() }
}
