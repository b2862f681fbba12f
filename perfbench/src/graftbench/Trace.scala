package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch microseconds
  * so spans from the benchmark's own threads and from Spark's listener
  * bus land on one axis. `parent` is 0 for a root and -1 for a span the
  * listener recorded, whose parent is the innermost span containing it. */
final case class Span(id: Long, parent: Long, name: String, trace: String,
                      startUs: Long, endUs: Long)

/** Spans kept in memory and written out when the run ends. While `on`
  * is false `span` only runs its body, so untraced work pays nothing;
  * `enabled` marks a traced run, which turns `on` for its timed units. */
final class Tracer(val enabled: Boolean) {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0)
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String, trace: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = nowUs
      try body
      finally {
        spans.add(Span(id, parent, name, trace, t0, nowUs))
        current.set(parent)
      }
    }

  def record(name: String, trace: String, startUs: Long, endUs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), -1L, name, trace, startUs, endUs))
}

/** Per-unit execution counters from Spark's public listener APIs: jobs,
  * stages, tasks, task CPU, scan and shuffle bytes, spill, job wall,
  * and the analysis / optimization / planning phases of every query
  * execution. Work is attributed to the `graftbench.unit` local property
  * set around each pass or micro-batch. */
final class LayerListener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  final class Counters {
    val jobs, stages, tasks, cpuNs, scanBytes, shuffleWrite, shuffleRead,
      spillBytes, optimizeMs, planMs, analyzeMs = new AtomicLong(0)
    val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  }
  private val units = new ConcurrentHashMap[String, Counters]()
  private val stageUnit = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val pendingJobs = new AtomicLong(0)
  @volatile var currentUnit: String = "untracked"

  private def unit(name: String): Counters = units.computeIfAbsent(name, _ => new Counters)
  private def prop(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("graftbench.unit"))).getOrElse("untracked")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    pendingJobs.incrementAndGet()
    val u = prop(e.properties)
    unit(u).jobs.incrementAndGet()
    jobStart.put(e.jobId, (u, e.time))
    e.stageIds.foreach(stageUnit.put(_, u))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (u, t0) =>
      unit(u).jobIntervals.add((t0, e.time))
      tracer.record("exec.job", u, t0 * 1000L, e.time * 1000L)
    }
    pendingJobs.decrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    unit(stageUnit.getOrDefault(e.stageInfo.stageId, "untracked")).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val u = unit(stageUnit.getOrDefault(e.stageId, "untracked"))
    u.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      u.cpuNs.addAndGet(m.executorCpuTime)
      u.scanBytes.addAndGet(m.inputMetrics.bytesRead)
      u.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      u.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      u.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  // Query-execution callbacks run on the listener bus after the action,
  // so they are attributed to the unit that was current when the action
  // ran only through the phase timestamps (spans resolve by containment)
  // and through `currentUnit`, which changes only between units.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    val u = unit(currentUnit)
    qe.tracker.phases.foreach { case (phase, p) =>
      phase match {
        case "analysis" => u.analyzeMs.addAndGet(p.durationMs)
        case "optimization" => u.optimizeMs.addAndGet(p.durationMs)
        case "planning" => u.planMs.addAndGet(p.durationMs)
        case _ =>
      }
      tracer.record(s"catalyst.$phase", currentUnit, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
  }

  /** The listener bus is asynchronous: wait until every started job has
    * ended and the counters stop moving. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1L
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(50)
      val now = units.values().asScala.map(_.tasks.get).sum
      if (pendingJobs.get == 0 && now == last) stable += 1 else stable = 0
      last = now
    }
  }

  /** Counters per unit, with `job_busy_ms` the wall time during which at
    * least one of the unit's jobs was running. */
  def snapshot(): Map[String, Map[String, Any]] =
    units.asScala.map { case (name, u) =>
      val iv = u.jobIntervals.asScala.toSeq.sortBy(_._1)
      var busy = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
      name -> Map[String, Any](
        "jobs" -> u.jobs.get, "stages" -> u.stages.get, "tasks" -> u.tasks.get,
        "task_cpu_ms" -> u.cpuNs.get / 1e6, "scan_bytes" -> u.scanBytes.get,
        "shuffle_write_bytes" -> u.shuffleWrite.get,
        "shuffle_read_bytes" -> u.shuffleRead.get, "spill_bytes" -> u.spillBytes.get,
        "analyze_ms" -> u.analyzeMs.get, "optimize_ms" -> u.optimizeMs.get,
        "plan_ms" -> u.planMs.get, "job_busy_ms" -> busy)
    }.toMap
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case p: Product => render(p.productIterator.toSeq)
    case other => str(other.toString)
  }
}
