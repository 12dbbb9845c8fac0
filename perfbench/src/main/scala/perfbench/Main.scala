package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up a local session, runs one workload in
  * a closed loop with one client thread, checks every result outside the
  * timed calls, and writes raw samples as JSON for `run.py` to turn into
  * metrics.
  *
  * {{{
  * perfbench.Main --workload analytics|kv --seed N --seconds S
  *   --trace 0|1 --data DIR --work DIR --cores C
  * perfbench.Main --dump-oracles FILE
  * }}}
  */
object Main {
  val Setups = 3
  val OpCapSec = 60.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, cores: Int)

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("dump-oracles")) {
      val sql = AnalyticsMix.Queries.map(q => q -> graft.SparkEntry.oracleSql(AnalyticsMix.OracleOf(q)))
      Files.writeString(Paths.get(kv("dump-oracles")), json.writeValueAsString(sql.toMap))
      return
    }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("cores").toInt)
    val w: Workload = a.workload match {
      case "analytics" => new AnalyticsMix(a)
      case "kv" => new KvMix(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = w.run()
    Files.writeString(Paths.get(a.work, "jvm_result.json"), json.writeValueAsString(out))
  }
}

/** Shared run skeleton: repeated set-ups, warm-up rounds, then the measured
  * rounds, each also run traced when tracing is on.
  */
abstract class Workload(val a: Main.Args) {
  var spark: SparkSession = _
  val setups = ArrayBuffer.empty[Map[String, Double]]
  val rounds = ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private val harnesses = ArrayBuffer.empty[Harness]

  /** Turn the inputs into something queryable on the fresh session. */
  def prepareInputs(): Unit
  /** One-time work after the set-ups, before the first round. */
  def afterSetup(): Unit = ()
  /** One round of the mix; rounds numbered 0 or below are warm-up. */
  def round(h: Harness, r: Int): Unit
  def warmRounds: Int = 1
  /** Nominal length of one round. A run measures round(seconds / this)
    * rounds, at least two, so the sample count, and with it the tail
    * percentile, does not change when the engine gets faster or slower.
    */
  def nominalRoundSec: Double
  /** Work after the measured rounds (final ops, result checks). */
  def finish(h: Harness): Unit = ()
  /** Workload-specific fields of a traced op. */
  def traceFields(s: OpSample): Map[String, Any] = Map.empty

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def setupOnce(): Unit = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    val t0 = System.nanoTime()
    spark = graft.Session.local(a.cores, appName = "perfbench")
    val session = secs(t0)
    val t1 = System.nanoTime()
    prepareInputs()
    setups += Map("total_s" -> secs(t0), "session_s" -> session, "inputs_s" -> secs(t1))
  }

  private def harness(name: String, traced: Boolean): Harness = {
    val h = new Harness(spark.sparkContext, name, traced, Main.OpCapSec)
    harnesses += h
    h
  }

  private def timedRound(h: Harness, r: Int): Unit = {
    val t0 = System.nanoTime()
    h.attach()
    round(h, r)
    h.detach()
    rounds += Map("window" -> h.window, "round" -> r, "s" -> secs(t0)) ++
      (if (r > 0) Map("live_heap_mb" -> LiveHeap.mb()) else Map.empty)
  }

  /** Set-ups, warm-up rounds, then `n` measured rounds. With tracing, each
    * round index runs once untraced and once traced, the order alternating,
    * so the overhead comparison sees the same warm-up state on both sides.
    */
  def run(): Map[String, Any] = {
    (1 to Main.Setups).foreach(_ => setupOnce())
    afterSetup()
    val n = math.max(2, math.round(a.seconds / nominalRoundSec).toInt)
    val warm = harness("warm", traced = false)
    (1 - warmRounds to 0).foreach(timedRound(warm, _))
    val plain = harness("plain", traced = false)
    val traced = if (a.trace) Some(harness("traced", traced = true)) else None
    (1 to n).foreach { r =>
      val pair = plain +: traced.toSeq
      (if (r % 2 == 0) pair.reverse else pair).foreach(timedRound(_, r))
    }
    val last = traced.getOrElse(plain)
    last.attach()
    finish(last)
    last.detach()
    val out = Map(
      "workload" -> a.workload,
      "setups" -> setups.toSeq,
      "rounds" -> rounds.toSeq,
      "samples" -> harnesses.toSeq.flatMap { h =>
        h.samples.toSeq.map { s =>
          Map("window" -> h.window, "id" -> s.id, "kind" -> s.kind, "name" -> s.name,
            "round" -> s.round, "ms" -> s.ms, "ok" -> s.ok, "err" -> s.err) ++
            (if (h.traced) h.counters(s.id) ++ traceFields(s) else Map.empty)
        }
      },
      "extra" -> extra.toMap)
    if (a.trace) {
      val lines = harnesses.filter(_.traced).flatMap(_.spanRecords).map(Main.json.writeValueAsString)
      Files.writeString(Paths.get(a.work, "spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    harnesses.foreach(_.shutdown())
    spark.stop()
    out
  }
}
