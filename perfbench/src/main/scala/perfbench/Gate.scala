package perfbench

import java.sql.DriverManager
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row}

/** Correctness checks the benchmark runs on the program's outputs. Each
  * returns the list of mismatches; an empty list means the check passed. */
object Gate {

  /** Row count and one order-insensitive checksum per column, read over
    * plain JDBC (the `etl_table_checksum` shape: canonical text per value,
    * hashed, summed). Column names are upper-cased. */
  final case class TableSum(rows: Long, columns: Map[String, Long])

  def tableSum(url: String, table: String): TableSum = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      val md = rs.getMetaData
      val n = md.getColumnCount
      val sums = new Array[Long](n)
      var rows = 0L
      while (rs.next()) {
        rows += 1
        var i = 0
        while (i < n) {
          val v = rs.getObject(i + 1)
          val canon = v match {
            case null => "∅"
            case d: java.math.BigDecimal => d.toPlainString
            case other => other.toString
          }
          sums(i) += (MurmurHash3.stringHash(canon) & 0xffffffffL)
          i += 1
        }
      }
      rs.close()
      TableSum(rows, (1 to n).map(i => md.getColumnName(i).toUpperCase).zip(sums).toMap)
    } finally c.close()
  }

  /** Every table of `tables` must hold the same rows in source and
    * destination. */
  def compareTables(srcUrl: String, dstUrl: String, tables: Seq[String]): Seq[String] =
    tables.flatMap { t =>
      val a = tableSum(srcUrl, t); val b = tableSum(dstUrl, t)
      if (a.rows != b.rows) Seq(s"$t: source has ${a.rows} rows, destination ${b.rows}")
      else a.columns.toSeq.sortBy(_._1).collect {
        case (col, sum) if !b.columns.get(col).contains(sum) => s"$t.$col: column checksum differs"
      }
    }

  def rowCount(url: String, table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); val n = rs.getLong(1); rs.close(); n
    } finally c.close()
  }

  /** Row count and an order-insensitive hash of a query result: columns in
    * name order, floating-point values rounded to 9 significant digits,
    * per-row hashes summed. */
  final case class QuerySum(rows: Long, hash: String)

  def querySum(df: DataFrame): QuerySum = {
    val names = df.columns.zipWithIndex.sortBy(_._1)
    val rows = df.collect()
    var h = 0L
    rows.foreach { r: Row =>
      val text = names.map { case (n, i) => n + "=" + canon(r.get(i)) }.mkString("|")
      h += MurmurHash3.stringHash(text).toLong * 0x9E3779B97F4A7C15L + MurmurHash3.stringHash(text, 17)
    }
    QuerySum(rows.length, f"$h%016x")
  }

  private val mc = new java.math.MathContext(9)
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }
}
