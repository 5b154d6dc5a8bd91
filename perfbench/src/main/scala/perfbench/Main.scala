package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run needs: the session, its options, the tracer (a
  * pass-through when untraced) and a work directory of its own. */
final case class Ctx(spark: SparkSession, opts: Opts, tracer: Tracer,
                     probe: Option[Probe], work: String) {
  def dir(name: String): String = s"$work/$name"
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      smoke: Boolean, work: String, traceOut: String,
                      commit: String, srcDigest: String)

/** A named figure with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** A correctness check's verdict. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload reports after its timed window. */
final case class Outcome(storedBytesRatio: Double, checks: Seq[Check], report: Seq[Metric])

/**
 * A closed-loop workload. The harness calls [[setup]] `setupReps` times
 * (each into fresh directories; set-up time is the median), runs
 * `warmupOps` untimed ops, then times ops for the run's seconds (at least
 * `minOps`). [[op]] is the timed call; [[afterOp]] validates its output
 * outside the timed region. Ops are numbered from 0; warm-up ops get
 * negative numbers, so their query ids never repeat a timed op's.
 */
trait Workload {
  type State
  def name: String
  def setupReps: Int
  def warmupOps(smoke: Boolean): Int
  def minOps: Int
  def setup(ctx: Ctx, rep: Int): State
  def dispose(ctx: Ctx, s: State): Unit = ()
  def op(ctx: Ctx, s: State, i: Int): Any
  def afterOp(ctx: Ctx, s: State, i: Int, out: Any): Boolean
  def finish(ctx: Ctx, s: State, opMs: Seq[Double]): Outcome
}

object Main {

  val workloads: Seq[Workload] = Seq(PipelineBatch, SimilarCases)

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case NonFatal(e) => e.printStackTrace(); 2 }
    System.exit(code)
  }

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("smoke").contains("1"), need("work"),
      m.getOrElse("trace-out", ""), m.getOrElse("commit", "unknown"),
      m.getOrElse("src-digest", "unknown"))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(o: Opts): Int = {
    val wl = workloads.find(_.name == o.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val tracer = new Tracer(o.trace)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = tracer.span("Graft.session") {
      val s = graft.Graft.session()
      s.sparkContext.setLogLevel("ERROR")
      s.range(1).count()
      s
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val probe = if (o.trace) Some(new Probe(spark, tracer)) else None
    val ctx = Ctx(spark, o, tracer, probe, o.work)
    try measure(wl, ctx, sessionS)
    finally spark.stop()
  }

  private def measure(wl: Workload, ctx: Ctx, sessionS: Double): Int = {
    val o = ctx.opts
    val tr = ctx.tracer
    val out = System.out

    tr.op = -1
    val setupTimes = ArrayBuffer.empty[Double]
    var state: Option[wl.State] = None
    for (rep <- 0 until wl.setupReps) {
      // released first: a rebuilt index has the same plan, so it would share the old cache entry
      state.foreach(wl.dispose(ctx, _))
      val t0 = System.nanoTime()
      state = Some(tr.span(s"${wl.name}.setup")(wl.setup(ctx, rep)))
      setupTimes += seconds(t0)
    }
    val s = state.get
    val w0 = System.nanoTime()
    for (k <- 1 to wl.warmupOps(o.smoke)) {
      val i = -k
      val r = wl.op(ctx, s, i)
      wl.afterOp(ctx, s, i, r)
    }
    // the window starts from a collected heap: set-up garbage, and the
    // cache clean-up a collection triggers, stay out of timed ops
    System.gc()
    val warmupS = seconds(w0)
    val setupS = sessionS + median(setupTimes.toSeq) + warmupS
    System.err.println(f"[perfbench] session $sessionS%.1f s, set-up ${setupTimes.mkString(" ")} s, warm-up $warmupS%.1f s")

    val opMs = ArrayBuffer.empty[Double]
    var failed = 0
    val start = System.nanoTime()
    def elapsed = seconds(start)
    // never past three times the window, whatever minOps asks for
    while ((opMs.size < wl.minOps || elapsed < o.seconds) && elapsed < 3 * o.seconds + 30) {
      val i = opMs.size
      tr.op = i
      ctx.probe.foreach(_.begin())
      val t0 = System.nanoTime()
      val r = try Right(tr.span(s"${wl.name}.op")(wl.op(ctx, s, i)))
        catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      opMs += ms
      ctx.probe.foreach(_.end(i, ms))
      val ok = r match {
        case Right(v) => wl.afterOp(ctx, s, i, v)
        case Left(e) => System.err.println(s"[perfbench] op $i failed: $e"); false
      }
      if (!ok) failed += 1
    }
    val windowS = elapsed
    tr.op = -2
    val f0 = System.nanoTime()
    val outcome = wl.finish(ctx, s, opMs.toSeq)
    System.err.println(f"[perfbench] ${opMs.size} ops in $windowS%.1f s, checks ${seconds(f0)}%.1f s")
    System.err.println(s"[perfbench] op ms: ${opMs.map(m => f"$m%.0f").mkString(" ")}")
    val attempted = opMs.size
    // a failed check means the timed ops' shared output is wrong
    val wrong = if (outcome.checks.forall(_.ok)) failed else attempted
    val correct = wrong == 0

    val env = Seq("workload" -> wl.name, "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"), "smoke" -> (if (o.smoke) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> ctx.spark.version, "commit" -> o.commit, "src_digest" -> o.srcDigest)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", median(opMs.toSeq), "ms"),
      Metric("stored_bytes_ratio", outcome.storedBytesRatio, "ratio"))
    val report = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("failed_share", wrong.toDouble / attempted, "ratio"),
      Metric("ops", attempted.toDouble, "count")) ++ outcome.report

    import Json._
    outcome.checks.foreach(c => out.println(
      s"# check ${c.name} ${if (c.ok) "ok" else "FAILED"} ${c.detail}"))
    out.println("# env " + obj(env.map { case (k, v) => k -> str(v) }: _*))
    out.println("# report " + obj(("workload" -> str(wl.name)) +: report.map(m =>
      m.name -> obj("value" -> num(m.value), "unit" -> str(m.unit))): _*))
    if (o.trace) {
      tr.count("ops", attempted.toDouble, -2)
      tr.count("trace.setup_s", setupS, -2)
      tr.count("trace.op_p50_ms", median(opMs.toSeq), -2)
      tr.write(java.nio.file.Paths.get(o.traceOut), wl.name, env)
    }
    out.println("RESULT " + obj(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> wrong.toString,
      "metrics" -> obj(endToEnd.map(m =>
        m.name -> obj("value" -> num(m.value), "unit" -> str(m.unit))): _*)))
    out.flush()
    if (correct) 0 else 1
  }
}
