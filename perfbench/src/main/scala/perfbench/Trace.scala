package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `name` is `<layer>.<call>`; `op` is the op index: -1
  * during set-up and warm-up, -2 after the timed window, -3 for an
  * external span no recorded span contains. Times are epoch
  * microseconds. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startUs: Long, endUs: Long)

/**
 * In-memory span and counter recorder of the traced run. When `on` is
 * false every call is a pass-through, so the untraced run does no extra
 * work. [[span]] nests by call stack on the calling thread; [[external]]
 * adds a span timed elsewhere (Catalyst phases, micro-batch legs) whose
 * parent is the innermost span containing it, resolved in [[spans]].
 */
final class Tracer(val on: Boolean) {
  private val baseUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = baseUs + System.nanoTime() / 1000L

  private val recorded = ArrayBuffer.empty[Span]
  private val externals = ArrayBuffer.empty[Span]
  private val counters = ArrayBuffer.empty[(String, Int, Double)]
  private val plans = ArrayBuffer.empty[(Int, String, String)]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var op: Int = -1

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val start = nowUs
      try body
      finally {
        stack.set(stack.get.tail)
        val end = nowUs
        synchronized { recorded += Span(id, parent, name, op, start, end) }
      }
    }

  def external(name: String, startUs: Long, endUs: Long): Unit =
    if (on) synchronized { externals += Span(newId(), 0, name, op, startUs, endUs) }

  def count(name: String, value: Double, at: Int = op): Unit =
    if (on) synchronized { counters += ((name, at, value)) }

  def plan(func: String, text: String): Unit =
    if (on) synchronized { plans += ((op, func, text)) }

  /** Every span, external ones re-parented to the innermost longer span
    * that contains them (1 ms slack: Catalyst phases carry millisecond
    * times) and given that span's op. */
  def spans: Seq[Span] = synchronized {
    val all = (recorded ++ externals).toSeq
    def dur(s: Span) = s.endUs - s.startUs
    val resolved = externals.toSeq.map { x =>
      val outer = all.filter(y => y.id != x.id && dur(y) > dur(x) &&
          y.startUs - 1000L <= x.startUs && x.endUs <= y.endUs + 1000L)
        .sortBy(dur).headOption
      outer.fold(x.copy(op = -3))(o => x.copy(parent = o.id, op = o.op))
    }
    // a parent that is itself external takes its resolved op
    val opOf = (recorded.toSeq ++ resolved).map(s => s.id -> s.op).toMap
    recorded.toSeq ++ resolved.map(s => s.copy(op = opOf.getOrElse(s.parent, s.op)))
  }

  def write(path: java.nio.file.Path, workload: String, env: Seq[(String, String)]): Unit = {
    import Json._
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      def line(fields: (String, String)*): Unit = { w.write(obj(fields: _*)); w.newLine() }
      line(("kind" -> str("env")) +: env.map { case (k, v) => k -> str(v) }: _*)
      spans.sortBy(_.startUs).foreach { s =>
        line("kind" -> str("span"), "id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> str(s.name), "workload" -> str(workload), "op" -> s.op.toString,
          "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)
      }
      synchronized(counters.toSeq).foreach { case (n, o, v) =>
        line("kind" -> str("counter"), "name" -> str(n), "workload" -> str(workload),
          "op" -> o.toString, "value" -> num(v))
      }
      synchronized(plans.toSeq).foreach { case (o, f, t) =>
        line("kind" -> str("plan"), "workload" -> str(workload), "op" -> o.toString,
          "func" -> str(f), "text" -> str(t))
      }
    } finally w.close()
  }
}

/** Task-level totals of every job the application runs. One closed-loop
  * client runs one op at a time, so the difference of two snapshots taken
  * around an op (after [[org.apache.spark.perfbench.Bus.drain]]) is that
  * op's work, whatever thread or job group submitted it. */
final class ExecTotals extends SparkListener {
  private val jobs, tasks, taskMs, cpuMs, shuffleRead, shuffleWrite, spill,
    input, output = new LongAdder
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.increment()
      taskMs.add(e.taskInfo.duration)
      cpuMs.add(m.executorCpuTime / 1000000L)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
      output.add(m.outputMetrics.bytesWritten)
    }
  def snapshot: Map[String, Long] = Map(
    "exec.jobs" -> jobs.sum, "exec.tasks" -> tasks.sum, "exec.task_ms" -> taskMs.sum,
    "exec.cpu_ms" -> cpuMs.sum, "exec.shuffle_read_bytes" -> shuffleRead.sum,
    "exec.shuffle_write_bytes" -> shuffleWrite.sum, "exec.spill_bytes" -> spill.sum,
    "exec.input_bytes" -> input.sum, "exec.output_bytes" -> output.sum)
}

/** Catalyst phase spans and optimizer-rule totals of every successful
  * action, read from each action's `QueryPlanningTracker`. Also counts
  * JSON file scans in executed plans (the landing is the only JSON
  * input) and keeps the executed plan text of the first timed op. */
final class CatalystProbe(tracer: Tracer) extends QueryExecutionListener {
  private val ruleNs = Map("graft.plans.MvRewrite" -> new LongAdder,
    "graft.plans.BoundLevenshtein" -> new LongAdder)
  private val invocations, effective, jsonScans = new LongAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker
    for (phase <- Seq("analysis", "optimization", "planning"); s <- t.phases.get(phase))
      tracer.external(s"catalyst.$phase", s.startTimeMs * 1000L, s.endTimeMs * 1000L)
    for ((rule, s) <- t.rules; ns <- ruleNs.get(rule)) {
      ns.add(s.totalTimeNs)
      invocations.add(s.numInvocations)
      effective.add(s.numEffectiveInvocations)
    }
    jsonScans.add(PlanWalk.jsonScans(qe.executedPlan).toLong)
    if (tracer.op == 0) tracer.plan(funcName, qe.executedPlan.toString)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Map[String, Long] = Map(
    "plans.MvRewrite_ns" -> ruleNs("graft.plans.MvRewrite").sum,
    "plans.BoundLevenshtein_ns" -> ruleNs("graft.plans.BoundLevenshtein").sum,
    "plans.invocations" -> invocations.sum, "plans.effective" -> effective.sum,
    "models.landing_scans" -> jsonScans.sum)
}

/** Walks executed plans through adaptive plans and their query stages. */
object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
  def jsonScans(plan: SparkPlan): Int =
    collectWithSubqueries(plan) {
      case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[JsonFileFormat] => f
    }.size
}

/** Largest state directory seen after any micro-batch of the running
  * catch-up (listed on each progress event). */
final class StateProbe extends StreamingQueryListener {
  @volatile var dir: Option[String] = None
  @volatile var maxBytes = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    dir.foreach { d =>
      // the next micro-batch may be retiring versions while this lists
      val bytes = scala.util.Try(Disk.bytesUnder(d)).getOrElse(0L)
      if (bytes > maxBytes) maxBytes = bytes
    }
}

/**
 * The traced run's listeners. [[begin]] and [[end]] bracket one op and
 * record its exec counters, rule totals and GC time as counters of that op.
 */
final class Probe(spark: SparkSession, tracer: Tracer) {
  val exec = new ExecTotals
  val catalyst = new CatalystProbe(tracer)
  val state = new StateProbe
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(catalyst)
  spark.streams.addListener(state)

  private val nproc = Runtime.getRuntime.availableProcessors
  private var before: Map[String, Long] = Map.empty
  private def snap(): Map[String, Long] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    exec.snapshot ++ catalyst.snapshot + ("jvm.gc_ms" -> Probe.gcMillis())
  }

  /** The last op's counter differences. */
  @volatile var last: Map[String, Long] = Map.empty

  def begin(): Unit = before = snap()

  /** Counter differences since [[begin]]. */
  def since(): Map[String, Long] =
    snap().map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  def end(op: Int, wallMs: Double): Unit = {
    val d = since()
    last = d
    Seq("exec.jobs", "exec.tasks", "exec.task_ms", "exec.cpu_ms",
      "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
      "exec.input_bytes", "jvm.gc_ms", "models.landing_scans")
      .foreach(k => tracer.count(k, d(k).toDouble, op))
    tracer.count("exec.core_busy_share", d("exec.task_ms") / (wallMs * nproc), op)
    tracer.count("plans.MvRewrite_ms", d("plans.MvRewrite_ns") / 1e6, op)
    tracer.count("plans.BoundLevenshtein_ms", d("plans.BoundLevenshtein_ns") / 1e6, op)
    if (d("plans.invocations") > 0)
      tracer.count("plans.effective_share",
        d("plans.effective").toDouble / d("plans.invocations"), op)
  }
}

object Probe {
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** Minimal JSON writing (the records hold only strings and numbers). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
