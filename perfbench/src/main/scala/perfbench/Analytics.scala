package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

/** `analytics`: the logical queries `graft.Exec` dispatches, each run
  * through `Exec.runNamed` and collected. Every round runs each query once,
  * in an order drawn from the seed. Results are checked against the DuckDB
  * oracle's result for the same query on the same files, which `run.py`
  * writes under `<work>/oracle/` before this process starts.
  */
final class AnalyticsMix(a: Main.Args) extends Workload(a) {
  import AnalyticsMix.Queries

  private val expected = mutable.Map.empty[String, ResultPrint]
  private val chosenForm = mutable.Map.empty[Int, String]
  private val probeMs = mutable.Map.empty[Int, Double]
  private val resultRows = mutable.Map.empty[Int, Long]
  /** Result fingerprints of every run, compared with the oracle at the end. */
  private val results = mutable.ArrayBuffer.empty[(OpSample, ResultPrint)]

  def prepareInputs(): Unit = graft.Tables.registerViews(spark, a.data)

  /** The first pass compiles every plan; the second lets the JIT settle. */
  override def warmRounds: Int = 2
  def nominalRoundSec: Double = 3.75

  override def afterSetup(): Unit = {
    // the memo-hit cost of Tables.load, which every query build pays
    val t1 = System.nanoTime()
    graft.Tables.names.filter(_ != "events").foreach(graft.Tables.load(spark, a.data, _))
    extra("tables.load_ms") = (System.nanoTime() - t1) / 1e6 / (graft.Tables.names.size - 1)
  }

  def round(h: Harness, r: Int): Unit =
    new Random(a.seed * 7919L + r).shuffle(Queries).foreach { q =>
      var form = ""
      var got: ResultPrint = null
      val s = h.op("query", q, r) {
        val (f, df) = h.span("build")(graft.Exec.runNamed(spark, a.data, q))
        form = f
        val rows = h.span("collect")(df.collect())
        () => { got = ResultPrint.of(df.schema, rows); None }
      }
      chosenForm(s.id) = form
      if (got != null) { results += ((s, got)); resultRows(s.id) = got.rows }
      if (h.traced && form.nonEmpty) {
        // replay the validity probes of the forms ranked ahead of the chosen
        // one, outside the op's clock, to time the dispatcher's probe layer
        val ahead = graft.Exec.registry(q).takeWhile(_.name != form)
        val t0 = System.nanoTime()
        ahead.foreach(_.valid(spark, a.data))
        probeMs(s.id) = (System.nanoTime() - t0) / 1e6
      }
    }

  /** Compare every collected result with the DuckDB oracle's. Runs after
    * the measured rounds, so reading the oracle files costs no timed round.
    */
  override def finish(h: Harness): Unit = {
    Queries.foreach { q =>
      val df = spark.read.parquet(new File(a.work, s"oracle/$q.parquet").getPath)
      expected(q) = ResultPrint.of(df.schema, df.collect())
    }
    val wrong = results.collect { case (s, got) if got != expected(s.name) => s.name }.toSet
    // one more run of each wrong query, after the measured rounds, to show
    // which rows differ; a fingerprint alone does not say
    val detail = wrong.map(q => q -> rowDiff(q)).toMap
    results.foreach { case (s, got) =>
      val want = expected(s.name)
      if (got != want) s.fail(s"result differs from the DuckDB oracle: got $got, want $want; ${detail(s.name)}")
    }
  }

  private def rowDiff(q: String): String =
    try {
      val df = graft.Exec.runNamed(spark, a.data, q)._2
      val oracle = spark.read.parquet(new File(a.work, s"oracle/$q.parquet").getPath)
      val (engineOnly, oracleOnly) =
        ResultPrint.diff((df.schema, df.collect().toSeq), (oracle.schema, oracle.collect().toSeq), 5)
      s"engine-only rows ${engineOnly.mkString("[", "; ", "]")}, oracle-only rows ${oracleOnly.mkString("[", "; ", "]")}"
    } catch { case t: Throwable => s"rows not compared: $t".take(300) }

  override def traceFields(s: OpSample): Map[String, Any] = {
    val form = chosenForm.getOrElse(s.id, "")
    val forms = graft.Exec.registry(s.name)
    Map(
      "form" -> form,
      "result_rows" -> resultRows.getOrElse(s.id, 0L),
      "kernel" -> (if (form.nonEmpty && form != forms.last.name) 1 else 0),
      "skipped_forms" -> math.max(0, forms.indexWhere(_.name == form)),
      "probe_ms" -> probeMs.getOrElse(s.id, 0.0))
  }
}

object AnalyticsMix {
  /** The 15 BASELINE.md B-set queries, then the events family Exec dispatches. */
  val Queries: Seq[String] = Seq("q1", "q2", "q3", "q4", "q5", "q6", "q7", "q9a",
    "q10", "q11", "q12", "q13", "q14", "q16", "q17", "q21", "q51", "q70", "q71")
  /** Logical query → the SparkEntry name whose oracle SQL it shares. */
  val OracleOf: Map[String, String] = Map(
    "q1" -> "q1_pricing_agg", "q2" -> "q2_join_broadcast", "q3" -> "q3_range_join",
    "q4" -> "q4_semi_anti", "q5" -> "q5_rank_window", "q6" -> "q6_topk",
    "q7" -> "q7_rollup", "q9a" -> "q9a_distinct", "q10" -> "q10_json",
    "q11" -> "q11_tumbling", "q12" -> "q12_session", "q13" -> "q13_lag",
    "q14" -> "q14_exact_dedup", "q16" -> "q16_cosine_topk", "q17" -> "q17_tokens",
    "q21" -> "q21_asof_join", "q51" -> "q51_funnel", "q70" -> "q70_retention",
    "q71" -> "q71_transitions")
}
