package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a query result.
  *
  * Columns are taken in name order (the engine aliases its outputs exactly
  * as the oracle SQL does), each value is rendered canonically, each row is
  * hashed, and the row hashes are summed modulo 2^64. The sum ignores row
  * order but not multiplicity, and one changed value changes its row's hash.
  * Numbers compare by value whatever their SQL type (a DuckDB DECIMAL and an
  * engine DOUBLE of the same value agree); timestamps compare as UTC epoch
  * microseconds, with or without a time zone.
  */
final case class ResultPrint(columns: Seq[String], rows: Long, sum: Long) {
  override def toString: String = f"rows=$rows sum=$sum%016x cols=${columns.mkString(",")}"
}

object ResultPrint {

  def of(schema: StructType, rows: Iterable[Row]): ResultPrint = {
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var n = 0L
    canonRows(schema, rows).foreach { row =>
      val h = md.digest(row.getBytes(UTF_8))
      md.reset()
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    ResultPrint(schema.fieldNames.toSeq.map(_.toLowerCase).sorted, n, sum)
  }

  /** Each row rendered canonically, columns in name order, each value
    * followed by a U+0001 separator: the strings whose hashes `of` sums.
    */
  def canonRows(schema: StructType, rows: Iterable[Row]): Iterator[String] = {
    val order = schema.fieldNames.toSeq.map(_.toLowerCase).zipWithIndex.sortBy(_._1).map(_._2).toArray
    rows.iterator.map { r =>
      val sb = new StringBuilder
      order.foreach { i => canon(r.get(i), sb); sb.append('\u0001') }
      sb.toString
    }
  }

  /** The rows of `got` that `want` lacks and the rows of `want` that `got`
    * lacks, counted as multisets, at most `limit` of each, rendered as
    * `col=value` lists: the readable part of a fingerprint mismatch.
    */
  def diff(got: (StructType, Iterable[Row]), want: (StructType, Iterable[Row]),
      limit: Int): (Seq[String], Seq[String]) = {
    val cols = got._1.fieldNames.toSeq.map(_.toLowerCase).sorted
    def counts(r: (StructType, Iterable[Row])) =
      canonRows(r._1, r._2).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    def show(row: String) = cols.zip(row.split('\u0001'))
      .map { case (c, v) => s"$c=${v.replace("\u0000null", "NULL")}" }.mkString("(", ", ", ")")
    def extra(a: Map[String, Int], b: Map[String, Int]) =
      a.toSeq.flatMap { case (row, k) => Seq.fill(k - b.getOrElse(row, 0))(row) }.sorted.take(limit).map(show)
    val (g, w) = (counts(got), counts(want))
    (extra(g, w), extra(w, g))
  }

  private def number(d: Double, sb: StringBuilder): Unit =
    if (d == math.rint(d) && math.abs(d) < 1e15) sb.append(d.toLong)
    else sb.append(java.lang.Double.toString(d))

  private[perfbench] def canon(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("\u0000null")
    case x: Long => sb.append(x)
    case x: Int => sb.append(x)
    case x: Short => sb.append(x)
    case x: Byte => sb.append(x)
    case x: Double => number(x, sb)
    case x: Float => number(x.toDouble, sb)
    case x: java.math.BigDecimal => number(x.doubleValue, sb)
    case x: scala.math.BigDecimal => number(x.toDouble, sb)
    case x: java.sql.Timestamp => sb.append(micros(x.toInstant))
    case x: java.time.Instant => sb.append(micros(x))
    case x: java.time.LocalDateTime => sb.append(micros(x.toInstant(java.time.ZoneOffset.UTC)))
    case x: java.sql.Date => sb.append(x.toLocalDate)
    case x: java.time.LocalDate => sb.append(x)
    case x: Array[Byte] => x.foreach(b => sb.append(f"$b%02x"))
    case x: Row =>
      sb.append('(')
      (0 until x.length).foreach { i => canon(x.get(i), sb); sb.append(',') }
      sb.append(')')
    case x: scala.collection.Map[_, _] =>
      val parts = x.toSeq.map { case (k, vv) =>
        val b = new StringBuilder; canon(k, b); b.append("->"); canon(vv, b); b.toString
      }.sorted
      sb.append(parts.mkString("{", ",", "}"))
    case x: Iterable[_] =>
      sb.append('[')
      x.foreach { e => canon(e, sb); sb.append(',') }
      sb.append(']')
    case x => sb.append(x.toString)
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
