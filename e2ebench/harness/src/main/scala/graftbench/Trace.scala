package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed call: `parent` is the id of the enclosing span (-1 at top). */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

/** In-memory span recorder around calls into the engine's layers. Spans
  * are kept until [[json]] is written at exit; a disabled tracer only runs
  * the body, so untraced passes do no recording at all. */
final class Tracer(val run: String, var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def json: Seq[Any] = spans.toSeq.sortBy(_.id).map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_ns" -> s.start, "end_ns" -> s.end, "run" -> run))
}

/** Execution counters from a listener the benchmark registers: jobs, tasks,
  * shuffle bytes written and bytes spilled to disk. */
final class ExecCounters extends SparkListener {
  private val jobs, tasks, shuffleBytes, spillBytes = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Map[String, Double] = {
    BusDrain(sc)
    Map("jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
      "shuffle_mb" -> shuffleBytes.get / 1e6, "spill_mb" -> spillBytes.get / 1e6,
      "codegen_compile_s" -> CodeGenerator.compileTime / 1e9,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  }
}

object ExecCounters {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
}

/** Per-frame facts read after an action ran: Catalyst phase times from the
  * query's tracker and in-memory (cached) scans in the executed plan,
  * including adaptive stages and subqueries. */
object PlanFacts extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): Map[String, Double] = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def ph(n: String): Double = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val scans = collectWithSubqueries(qe.executedPlan) {
      case s: InMemoryTableScanExec => s }.size
    Map("analysis_s" -> ph("analysis"), "optimization_s" -> ph("optimization"),
      "planning_s" -> ph("planning"), "cache_scans" -> scans.toDouble)
  }
}
