package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the library. `ms` is wall time on the client thread;
  * `ok` is false when the call threw, timed out, or returned a wrong result.
  */
final case class OpSample(id: Int, kind: String, name: String, round: Int, ms: Double,
    var ok: Boolean = true, var err: String = null) {
  def fail(reason: String): Unit = {
    if (ok) { ok = false; err = reason }
    System.err.println(s"[perfbench] FAILED $kind $name (round $round): $reason")
  }
}

/** A traced interval, in wall-clock epoch milliseconds so that it lines up
  * with the scheduler's job timestamps. `parent` is -1 for an op's own span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double)

/** Spark counters of one op, summed over the jobs its job group ran. */
final class SparkAgg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Scheduler listener that attributes jobs, stages and task metrics to the
  * op whose job group launched them.
  */
final class OpListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, SparkAgg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStarts = new ConcurrentHashMap[Int, (String, Long)]()

  private def agg(g: String): SparkAgg = byGroup.computeIfAbsent(g, _ => new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val a = agg(g)
      a.synchronized { a.jobs += 1 }
      e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
      jobStarts.put(e.jobId, (g, e.time))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (g, start) =>
      val a = agg(g)
      a.synchronized { a.jobIntervals += ((start, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = agg(g)
      a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = agg(g)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
}

/** Live heap: heap in use right after a full collection. */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Runs library calls one at a time (one client, closed loop), each under
  * its own job group and a watchdog that cancels the group past `capSec`.
  * Failures count against attempts; nothing is retried. A traced harness
  * also records spans and, while attached, the scheduler's counters.
  */
final class Harness(sc: SparkContext, val window: String, val traced: Boolean, capSec: Double) {
  val samples = ArrayBuffer.empty[OpSample]
  private val spans = ArrayBuffer.empty[Span]
  private val listener = new OpListener
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  private var open = List.empty[Span] // the current op's unfinished spans, innermost first
  private val originNanos = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  private def epochMs(): Double = originMs + (System.nanoTime() - originNanos) / 1e6

  private def nextSpan(): Int = Harness.ids.incrementAndGet()

  /** Record `body` as a child of the innermost open span (traced ops only). */
  def span[A](name: String)(body: => A): A =
    if (!traced || open.isEmpty) body
    else {
      val s = Span(nextSpan(), open.head.id, open.head.op, name, epochMs(), 0)
      open = s :: open
      try body
      finally {
        open = open.tail
        spans += s.copy(endMs = epochMs())
      }
    }

  /** Time one op. `body` returns a check to run after the clock stops:
    * `None` for a correct result, `Some(reason)` for a wrong one.
    */
  def op(kind: String, name: String, round: Int)(body: => () => Option[String]): OpSample = {
    val id = Harness.ids.incrementAndGet()
    val group = s"perfbench-$id"
    val timedOut = new AtomicBoolean(false)
    sc.setJobGroup(group, s"$kind $name", interruptOnCancel = true)
    val dog = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut.set(true); sc.cancelJobGroup(group) }
    }, (capSec * 1000).toLong, TimeUnit.MILLISECONDS)
    val root = Span(id, -1, id, s"op:$kind", epochMs(), 0)
    open = List(root)
    val t0 = System.nanoTime()
    val outcome: Either[Throwable, () => Option[String]] =
      try Right(body) catch { case t: Throwable => Left(t) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) spans += root.copy(endMs = epochMs())
    open = Nil
    dog.cancel(false)
    sc.clearJobGroup()
    val sample = OpSample(id, kind, name, round, ms)
    val problem: Option[String] = outcome match {
      case Left(t) if timedOut.get => Some(s"timed out after ${capSec}s (${t.getClass.getSimpleName})")
      case Left(t) => Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).takeWhile(_ != '\n').take(300)}")
      case Right(_) if timedOut.get => Some(s"timed out after ${capSec}s")
      case Right(check) => try check() catch { case t: Throwable => Some(s"check failed: $t".take(300)) }
    }
    problem.foreach(sample.fail)
    samples += sample
    sample
  }

  private def agg(op: Int): SparkAgg = Option(listener.byGroup.get(s"perfbench-$op")).getOrElse(new SparkAgg)

  /** Scheduler counters of one traced op. */
  def counters(op: Int): Map[String, Any] = {
    val g = agg(op)
    Map("jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks,
      "run_ms" -> g.runMs, "cpu_ms" -> g.cpuNs / 1e6, "gc_ms" -> g.gcMs,
      "shuffle_write" -> g.shuffleWrite, "shuffle_read" -> g.shuffleRead,
      "spill" -> g.spill, "input_bytes" -> g.inputBytes,
      "input_records" -> g.inputRecords, "output_bytes" -> g.outputBytes)
  }

  /** Every span, plus one `spark:job` span per job, child of its op. */
  def spanRecords: Seq[Map[String, Any]] = {
    val jobs = samples.toSeq.flatMap(s => agg(s.id).jobIntervals.map { case (st, en) =>
      Span(nextSpan(), s.id, s.id, "spark:job", st.toDouble, en.toDouble)
    })
    (spans.toSeq ++ jobs).map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
  }

  /** Start or stop receiving scheduler events; detach waits until every
    * event queued so far has been delivered.
    */
  def attach(): Unit = if (traced) sc.addSparkListener(listener)
  def detach(): Unit = if (traced) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def shutdown(): Unit = {
    watchdog.shutdownNow()
    detach()
  }
}

object Harness {
  /** Op and span ids share one counter, unique across harnesses, so job
    * groups never collide and an op's id is its own span's id.
    */
  private val ids = new AtomicInteger(0)
}
