package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Append-only JSON-lines sink: one flat object per record. Values are
  * strings, numbers or booleans; run.py does all the arithmetic. */
final class Records(path: String) extends AutoCloseable {
  private val out = new BufferedWriter(new OutputStreamWriter(
    new FileOutputStream(path), StandardCharsets.UTF_8))

  def write(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.write((("kind" -> kind) +: fields).map { case (k, v) =>
      Records.quote(k) + ":" + Records.value(v)
    }.mkString("{", ",", "}\n"))
  }

  override def close(): Unit = out.close()
}

object Records {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }
}
