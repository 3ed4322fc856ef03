package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.Row

/** Raw records of one run, one JSON object per line. The runner only
  * records what happened; every metric is derived from these lines by
  * `metrics.py`, so the derivations are unit-testable without Spark.
  */
final class Out {
  private val lines = new ConcurrentLinkedQueue[String]()

  def emit(kind: String, fields: (String, Any)*): Unit = {
    val record = new java.util.LinkedHashMap[String, Any]()
    record.put("kind", kind)
    fields.foreach { case (k, v) => record.put(k, v) }
    lines.add(Out.json.writeValueAsString(record))
  }

  def writeTo(path: String): Unit = {
    val sb = new StringBuilder
    lines.forEach(l => sb.append(l).append('\n'))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Out {
  /** Writes Scala maps, options and sequences as JSON objects, values and arrays. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** Order-sensitive digest of a collected result. Floating-point cells are
  * rounded to 9 significant digits (the oracle compare's precision), so
  * re-executions that differ only in summation order still agree.
  */
object Digest {
  private val mc = new MathContext(9)

  def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
                      else new JBigDecimal(d).round(mc).stripTrailingZeros.toString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(cell).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def rows(rs: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rs.foreach { r =>
      md.update(r.toSeq.map(cell).mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
