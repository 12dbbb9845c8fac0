package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Checks of the result fingerprint: row order does not matter, one changed
  * value does, and equal values of different SQL types agree.
  */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"self-test failed: $what")

  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("n", LongType), StructField("x", DoubleType),
      StructField("ts", TimestampType), StructField("v", ArrayType(FloatType))))
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.123456Z"))
    val rows = Seq(
      Row("a", 1L, 0.5, ts, Seq(1.0f, 2.0f)),
      Row("b", 2L, 1.25, null, Seq.empty[Float]),
      Row("c", 3L, -7.0, ts, null))
    val base = ResultPrint.of(schema, rows)
    check(base.rows == 3, "row count")
    check(ResultPrint.of(schema, rows.reverse) == base, "row order changes the fingerprint")
    check(ResultPrint.of(schema, Seq(rows(1), rows(2), rows(0))) == base, "rotation changes it")
    val changed = rows.updated(1, Row("b", 2L, 1.2500000001, null, Seq.empty[Float]))
    check(ResultPrint.of(schema, changed) != base, "a changed double goes unnoticed")
    val changedTs = rows.updated(0, Row("a", 1L, 0.5,
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.123457Z")), Seq(1.0f, 2.0f)))
    check(ResultPrint.of(schema, changedTs) != base, "a changed timestamp goes unnoticed")
    check(ResultPrint.of(schema, rows :+ rows(0)) != base, "a duplicated row goes unnoticed")
    check(ResultPrint.of(schema, rows.take(2)) != base, "a dropped row goes unnoticed")
    check(ResultPrint.diff((schema, changed.reverse), (schema, rows), 5) ==
      ((Seq("(k=b, n=2, ts=NULL, v=[], x=1.2500000001)"), Seq("(k=b, n=2, ts=NULL, v=[], x=1.25)"))),
      "the row diff does not name the changed row")
    check(ResultPrint.diff((schema, rows :+ rows(0)), (schema, rows.reverse), 5)._1.size == 1,
      "the row diff misses a duplicated row")
    // the same values as DuckDB writes them: DECIMAL sums, naive timestamps
    val oracle = StructType(Seq(
      StructField("x", DecimalType(38, 2)), StructField("n", IntegerType),
      StructField("ts", TimestampNTZType), StructField("k", StringType),
      StructField("v", ArrayType(FloatType))))
    val engine = StructType(Seq(
      StructField("k", StringType), StructField("n", LongType), StructField("x", DoubleType),
      StructField("ts", TimestampType), StructField("v", ArrayType(FloatType))))
    val ldt = java.time.LocalDateTime.parse("2024-01-02T03:04:05.123456")
    check(ResultPrint.of(oracle, Seq(Row(new java.math.BigDecimal("1.25"), 2, ldt, "b", Seq(3.0f)))) ==
      ResultPrint.of(engine, Seq(Row("b", 2L, 1.25, ts, Seq(3.0f)))),
      "equal values of different types disagree")
    println("[perfbench] fingerprint self-test passed")
  }
}
