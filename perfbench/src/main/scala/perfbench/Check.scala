package perfbench

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Output check against the recorded reference outputs in `expected.json`.
  *
  * A digest is order-insensitive and column-order-insensitive, like
  * `scripts/check.py`: every row renders its cells in column-name order,
  * the row strings are sorted, and the sorted list is hashed. The reference
  * digests were recorded by `oracle.py` from outputs that `scripts/check.py`
  * found equal to DuckDB running `SparkEntry.oracleSql` (`"oracle": true`),
  * or, for a query without oracle SQL, from the engine's own output
  * (`"oracle": false`).
  */
final case class Expected(rows: Long, digest: String, oracle: Boolean)

object Check {

  def digest(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update(10: Byte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case bs: Array[Byte] => bs.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def load(path: java.nio.file.Path): Map[String, Expected] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
      .properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Expected(v.get("rows").asLong, v.get("digest").asText, v.get("oracle").asBoolean)
      }.toMap

  /** None when `rows` match the reference for `name`, else why not. */
  def mismatch(name: String, rows: Array[Row], schema: StructType,
      expected: Map[String, Expected]): Option[String] =
    expected.get(name) match {
      case None => Some("no reference output recorded")
      case Some(e) if e.rows != rows.length =>
        Some(s"rows ${rows.length}, expected ${e.rows}")
      case Some(e) =>
        val d = digest(rows, schema)
        if (d == e.digest) None else Some(s"digest $d, expected ${e.digest}")
    }
}
