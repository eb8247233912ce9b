package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

/** Minimal JSON emitter for the benchmark's own records. Doubles keep
  * every digit (Java's shortest round-trip form); NaN and infinities
  * are written bare, which Python's json module reads back.
  */
final class JsonWriter {
  private val sb = new StringBuilder

  def value(v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => value(x)
    case s: String => string(s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
        else d.toString)
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => sb ++= n.toString
    case d: java.math.BigDecimal => sb ++= d.toString
    case d: BigDecimal => sb ++= d.bigDecimal.toString
    case t: java.sql.Timestamp =>
      obj("$ts_us" -> (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
    case t: java.time.Instant =>
      obj("$ts_us" -> (t.getEpochSecond * 1000000L + t.getNano / 1000))
    case d: java.sql.Date => obj("$date" -> d.toString)
    case d: java.time.LocalDate => obj("$date" -> d.toString)
    case b: Array[Byte] => obj("$hex" -> b.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row if r.schema == null => array(r.toSeq)
    case r: Row =>
      obj("$struct" -> scala.collection.immutable.ListMap(r.schema.fieldNames.zip(r.toSeq): _*))
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: scala.collection.Iterable[_] => array(s)
    case a: Array[_] => array(a.toSeq)
    case other => string(other.toString)
  }

  private def array(xs: Iterable[_]): Unit = {
    sb += '['
    xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; value(x) }
    sb += ']'
  }

  def obj(kv: (String, Any)*): Unit = {
    sb += '{'
    kv.zipWithIndex.foreach { case ((k, x), i) =>
      if (i > 0) sb += ','
      string(k); sb += ':'; value(x)
    }
    sb += '}'
  }

  def string(s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  def newline(): Unit = sb += '\n'
  def result(): String = sb.toString
}

/** Content-addressed result files: identical answers are stored once.
  * Rows are sorted by their serialized form so the file name does not
  * depend on row order.
  */
final class ResultStore(dir: String) {
  Files.createDirectories(Paths.get(dir))

  def save(cols: Seq[String], rows: Seq[Row]): (String, Long) = {
    val lines = rows.map { r =>
      val j = new JsonWriter
      j.value(r.toSeq)
      j.result()
    }.sorted
    val head = new JsonWriter
    head.value(cols)
    val text = (head.result() +: lines).mkString("\n") + "\n"
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val name = md.digest(text.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString + ".jsonl"
    val p = Paths.get(dir, name)
    if (!Files.exists(p)) Files.write(p, text.getBytes(UTF_8))
    (name, rows.size.toLong)
  }
}
