package graftbench

import scala.collection.mutable

import org.apache.spark.{GraftBenchShim, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span at a layer boundary: `layer` names the repository module the
  * timed call went into (`harness` for the benchmark's own work).
  * Times are `System.nanoTime`.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      pass: Int, start: Long, end: Long)

/** In-memory span recorder. Off, `span` only runs its body. Spans are
  * written out with the run's result, never during it. Single-threaded:
  * the harness calls into the engine from one thread.
  */
final class Tracer {
  var on = false
  var pass = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  // epoch-ms surfaces (stage and trigger times) map onto nanoTime here
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  def fromEpochMs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  /** The innermost open span, or -1. */
  def currentId: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = currentId
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, layer, pass, t0, System.nanoTime())
      }
    }

  /** A span whose times come from an engine surface, not from a call the
    * harness made (streaming trigger phases). Returns its id.
    */
  def record(name: String, layer: String, parent: Int, start: Long, end: Long): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, layer, pass, start, end)
    id
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "pass" -> s.pass, "start_ns" -> s.start, "end_ns" -> s.end)
  }
}

/** Engine counters from Spark's public listener surfaces: a
  * `SparkListener` for jobs, tasks and task metrics, and a
  * `QueryExecutionListener` for planning time and executed-plan SQL
  * metrics (file scans, pair expansion). Read with [[take]], which first
  * waits for the listener bus to deliver every posted event.
  */
final class EngineProbe extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  private val mapStages = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (i.taskMetrics != null && i.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
      for (a <- i.submissionTime; b <- i.completionTime) c.synchronized { mapStages += ((a, b)) }
  }

  /** Shuffle-map stages completed since the previous call, as the union
    * of their [submitted, completed] epoch-ms intervals.
    */
  def takeMapStages(): Seq[(Long, Long)] = c.synchronized {
    val sorted = mapStages.sortBy(_._1)
    mapStages.clear()
    sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (x, y)) if x <= b => (a, math.max(b, y)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    if (e.reason != Success) add("spark.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      // the scheduler-delay formula of Spark's own UI
      add("spark.scheduler_delay_s", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1e3)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("catalyst.planning_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    val seen = mutable.Set.empty[Int]
    def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    def walk(p: SparkPlan): Unit = if (seen.add(System.identityHashCode(p))) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case r: CommandResultExec => walk(r.commandPhysicalPlan)
      case other =>
        val kind = other.getClass.getSimpleName
        if (kind.startsWith("FileSourceScan")) {
          add("scan.files", metric(other, "numFiles"))
          add("scan.ms", metric(other, "scanTime") + metric(other, "metadataTime"))
        }
        if (kind == "DataWritingCommandExec") {
          add("write.files", metric(other, "numFiles"))
          add("write.rows", metric(other, "numOutputRows"))
        }
        if (kind == "GenerateExec" && other.expressions.exists(_.exists(
            _.getClass.getSimpleName == "PairExpand")))
          add("functions.pairs_out", metric(other, "numOutputRows"))
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counter values accumulated since the previous `take`, then reset. */
  def take(spark: SparkSession): Map[String, Double] = {
    GraftBenchShim.drainListenerBus(spark.sparkContext)
    c.synchronized { val snap = c.toMap; c.clear(); snap }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    GraftBenchShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Minimal JSON writer for the run's raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
