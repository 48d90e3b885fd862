package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/**
 * Order-insensitive fingerprint of a query result: columns sorted by
 * name, every cell rendered to a type-tagged string, rows sorted, then
 * SHA-256. Timestamps render in UTC (the harness JVM runs with
 * user.timezone=UTC).
 */
object Canon {

  def cell(v: Any): String = v match {
    case null => "␀"
    case d: Double => "d" + java.lang.Double.toString(d)
    case f: Float => "f" + java.lang.Float.toString(f)
    case b: java.math.BigDecimal => "m" + b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => cell(b.bigDecimal)
    case bytes: Array[Byte] => "x" + bytes.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case other => other.getClass.getSimpleName.take(2) + other.toString
  }

  /** (row count, hex digest) of `rows` under `columns` (the result schema's
    * field names, in result order). */
  def digest(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rendered = rows.map(r => order.map(i => cell(r.get(i))).mkString("␟"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString(",").getBytes("UTF-8"))
    rendered.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }
}
