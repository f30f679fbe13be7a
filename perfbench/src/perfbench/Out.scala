package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Minimal JSON rendering for the result and trace files. Values are
  * `Map[String, Any]`, `Seq[Any]`, strings, numbers, booleans or null.
  */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b.toString)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null")
      else sb.append(java.lang.Double.toString(d))
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n.toString)
    case n: Long => sb.append(n.toString)
    case n: java.lang.Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def writeFile(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(d => Files.createDirectories(d))
    Files.write(p, render(v).getBytes(StandardCharsets.UTF_8))
    ()
  }
}

/** What one benchmark JVM hands back to `run.py`: raw measurements, the
  * outcome of each output check, and run facts (fingerprints, canaries).
  * Metrics are derived from the raw values in `run.py`, so every metric
  * definition lives in one place.
  */
final class Result {
  val raw = scala.collection.mutable.LinkedHashMap[String, Any]()
  val checks = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
  var attempted = 0L
  var failed = 0L

  /** Record one checked operation; a failed check is a failed operation. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    System.err.println(s"[perfbench] check $name: ${if (ok) "OK" else "FAILED"} $detail")
  }

  def toMap: Map[String, Any] = Map(
    "attempted" -> attempted, "failed" -> failed,
    "checks" -> checks.toSeq, "raw" -> raw.toMap)
}
