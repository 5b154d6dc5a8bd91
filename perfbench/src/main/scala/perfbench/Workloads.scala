package perfbench

import java.nio.file.{Files => NioFiles, Paths}

import scala.collection.mutable

import graft.{MaudeFixture, Tables}
import graft.checks.Checks
import graft.models.{AeCountsQ, FactAdverseEvents, Pipeline, StgMaude, VAeEarlySignals}
import graft.operators.{HybridSearch, Knn}
import graft.sources.MaudeIngest
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

private object Digest {
  def rows(rs: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/**
 * The nightly refresh: `Pipeline.run` over the NDJSON landing with the
 * marts written, then the signals view collected. One op is one refresh,
 * as users run it. The traced run adds layer probes after the timed
 * window: each stage on its own (see [[probe]]) and one streaming
 * catch-up ([[CatchUp]]).
 */
object PipelineBatch extends Workload {
  final class State(val base: String, val landingBytes: Long) {
    val landing = s"$base/landing"
    val seedCsv = s"$base/manufacturer.csv"
    val marts = s"$base/marts"
    var signals: Option[String] = None
    var models: Option[Pipeline.Models] = None
  }

  val name = "pipeline_batch"
  val setupReps = 3
  def warmupOps(smoke: Boolean): Int = if (smoke) 1 else 6
  val minOps = 3

  def setup(ctx: Ctx, rep: Int): State = {
    val base = ctx.dir(s"pipeline/rep$rep")
    NioFiles.createDirectories(Paths.get(base))
    val rows = if (ctx.opts.smoke) 10000L else 100000L
    val bytes = Inputs.landing(ctx.spark, s"$base/landing", rows, 8, ctx.opts.seed)
    val s = new State(base, bytes)
    Inputs.manufacturerCsv(s.seedCsv)
    ctx.tracer.count("sources.input_bytes", bytes.toDouble)
    s
  }

  override def dispose(ctx: Ctx, s: State): Unit = Disk.remove(s.base)

  def op(ctx: Ctx, s: State, i: Int): Any = {
    val m = Pipeline.run(ctx.spark, s.landing, s.seedCsv, Some(s.marts))
    (m, m.vAeEarlySignals.collect().toSeq)
  }

  def afterOp(ctx: Ctx, s: State, i: Int, out: Any): Boolean = {
    val (m, rows) = out.asInstanceOf[(Pipeline.Models, Seq[Row])]
    s.models = Some(m)
    if (i >= 0) {
      ctx.tracer.count("sinks.bytes_written", Disk.bytesUnder(s.marts).toDouble)
      ctx.tracer.count("sinks.files_written", Disk.filesUnder(s.marts).toDouble)
    }
    val d = Digest.rows(rows)
    // every refresh of the same landing gives the same signals
    s.signals match {
      case None => s.signals = Some(d); rows.nonEmpty
      case Some(first) => first == d
    }
  }

  /** Each stage on its own, timed as a span: the landing parse and the
    * fact model into the noop sink (the fact is fed through the lazy
    * staging view, as `Pipeline.run` feeds it), each mart write, and the
    * models downstream of a mart fed from the written mart. A write's
    * figure is its leg minus its noop twin. Three repetitions; each
    * figure is the median. */
  private def probe(ctx: Ctx, s: State): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val legs = (0 until 3).map { rep =>
      val dir = ctx.dir(s"pipeline/probe$rep")
      def leg(name: String)(body: => Unit): (String, Double) = {
        val t0 = System.nanoTime()
        tr.span(name)(body)
        name -> (System.nanoTime() - t0) / 1e6
      }
      def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
      val stg = StgMaude(MaudeIngest.batch(spark, s.landing))
      val fact = FactAdverseEvents(stg, MaudeIngest.manufacturerSeed(spark, s.seedCsv))
        .withColumn("yyyy", year(col("date_received")))
      val out = Seq(
        leg("sources.parse")(noop(stg)),
        leg("models.fact")(noop(fact)),
        leg("sinks.fact_write")(
          fact.write.mode("overwrite").partitionBy("yyyy").parquet(s"$dir/fact")),
        leg("models.counts")(noop(AeCountsQ(spark.read.parquet(s"$dir/fact")))),
        leg("sinks.counts_write")(
          AeCountsQ(spark.read.parquet(s"$dir/fact")).write.mode("overwrite")
            .parquet(s"$dir/counts")),
        leg("models.signals") {
          VAeEarlySignals(spark.read.parquet(s"$dir/counts")).collect(); ()
        }).toMap
      Disk.remove(dir)
      out
    }
    def med(name: String) = Main.median(legs.map(_(name)))
    Seq("sources.parse", "models.fact", "models.counts", "models.signals")
      .foreach(n => tr.count(s"${n}_ms", med(n)))
    tr.count("sinks.fact_write_ms", med("sinks.fact_write") - med("models.fact"))
    tr.count("sinks.counts_write_ms", med("sinks.counts_write") - med("models.counts"))
  }

  def finish(ctx: Ctx, s: State, opMs: Seq[Double]): Outcome = {
    val m = s.models.get
    val dateCheck = "fact_date_received_not_null"
    val results = Checks.run(Pipeline.checks(m))
    val checks = (results - dateCheck).toSeq.sorted.map { case (n, bad) =>
      Check(n, bad == 0, s"$bad failing rows")
    } :+ Check("signals_identical_across_ops", s.signals.isDefined,
      s"signals sha256 ${s.signals.getOrElse("-")}")
    val probed = ctx.probe.toSeq.flatMap { p =>
      probe(ctx, s)
      CatchUp.probe(ctx, p)
    }
    val ratio = Disk.bytesUnder(s.marts).toDouble / s.landingBytes
    Outcome(ratio, checks ++ probed, Seq(
      Metric("pipeline_s", Main.median(opMs) / 1e3, "s"),
      Metric("stored_bytes_ratio", ratio, "ratio"),
      // the reference declares this check to fail on date gaps; reported, not gated
      Metric(s"${dateCheck}_failing_rows", results(dateCheck).toDouble, "count")))
  }
}

/**
 * Interactive similar-cases search: seeded three-term queries with a
 * 64-d query vector against a prebuilt IVF + BM25 index
 * (`similarCasesIndexed`, k=20, candidates=100, nProbe=8). One op is one
 * call, collected. Session settings are what `Graft.session` sets.
 */
object SimilarCases extends Workload {
  final class State(val index: HybridSearch.SearchIndex, val corpus: DataFrame,
                    val corpusBytes: Long, val vecs: Array[Array[Double]]) {
    val firstTop = mutable.Map.empty[Int, Seq[Long]]
  }

  val name = "similar_cases"
  val setupReps = 3
  def warmupOps(smoke: Boolean): Int = if (smoke) 3 else 50
  val minOps = 20
  val RepeatChecked = 3

  /** The generated corpus: documents with their vectors, and the
    * distinct vectors the centroids train on. */
  private final case class Corpus(docs: DataFrame, bytes: Long, emb: DataFrame,
                                  vecs: Array[Array[Double]])
  private var corpus: Option[Corpus] = None

  private def generate(ctx: Ctx): Corpus = {
    val spark = ctx.spark
    val seed = ctx.opts.seed
    val dir = ctx.dir("search/inputs")
    val (nDocs, nEmb) = if (ctx.opts.smoke) (5000L, 500L) else (30000L, 2000L)
    Inputs.embeddings(spark, nEmb, seed).write.parquet(s"$dir/embeddings")
    val emb = spark.read.parquet(s"$dir/embeddings")
    Tables.cycleEmbeddings(Inputs.documents(spark, nDocs, seed), emb, nEmb)
      .select(col("doc_id"), col("text"), col("embedding"))
      .write.parquet(s"$dir/corpus")
    val vecs = emb.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    Corpus(spark.read.parquet(s"$dir/corpus"), Disk.bytesUnder(s"$dir/corpus"), emb, vecs)
  }

  /** Builds the index: k-means centroids, then `buildIndex` with its
    * cached state materialized. The first repetition also generates the
    * corpus, which every repetition indexes afresh. */
  def setup(ctx: Ctx, rep: Int): State = {
    val c = corpus.getOrElse { val g = generate(ctx); corpus = Some(g); g }
    val centroids = Knn.kmeansCentroids(c.emb, "vec_id", "embedding", k = 64, iters = 5)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val index = ctx.tracer.span("operators.index_build") {
      val idx = HybridSearch.buildIndex(c.docs, "doc_id", "text", "embedding", centroids)
      idx.bm25.byTerm.count(); idx.assigned.count()
      idx
    }
    new State(index, c.docs, c.bytes, c.vecs)
  }

  override def dispose(ctx: Ctx, s: State): Unit = s.index.close()

  /** Query `q` of the run: three distinct vocabulary terms and a corpus
    * vector with seeded noise — a pure function of (seed, q). */
  def query(seed: Long, s: State, q: Int): (String, Seq[Double]) = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + q)
    val terms = r.ints(0, Inputs.Vocab.size).distinct().limit(3).toArray
      .map(Inputs.Vocab(_)).mkString(" ")
    val v = s.vecs(r.nextInt(s.vecs.length)).map(_ + (r.nextDouble() - 0.5) * 0.2)
    (terms, v.toSeq)
  }

  private def call(s: State, terms: String, v: Seq[Double]): DataFrame =
    HybridSearch.similarCasesIndexed(s.index, terms, v, k = 20, candidates = 100, nProbe = 8)

  def op(ctx: Ctx, s: State, i: Int): Any = {
    val (terms, v) = query(ctx.opts.seed, s, i)
    val df = ctx.tracer.span("operators.search_construct")(call(s, terms, v))
    ctx.tracer.span("operators.search_execute")(df.collect())
  }

  private def docs(rows: Array[Row]): Seq[Long] = rows.toSeq.map(_.getAs[Long]("doc"))

  def afterOp(ctx: Ctx, s: State, i: Int, out: Any): Boolean = {
    val top = docs(out.asInstanceOf[Array[Row]])
    if (i >= 0 && i < RepeatChecked) s.firstTop(i) = top
    for (p <- ctx.probe if i >= 0)
      ctx.tracer.count("operators.search_input_bytes_per_call",
        p.last("exec.input_bytes").toDouble)
    top.size == 20
  }

  def finish(ctx: Ctx, s: State, opMs: Seq[Double]): Outcome = {
    val seed = ctx.opts.seed
    val repeats = s.firstTop.toSeq.sortBy(_._1).map { case (q, first) =>
      val (terms, v) = query(seed, s, q)
      docs(call(s, terms, v).collect()) == first
    }
    // held-out queries: ids no timed or warm-up call uses
    val nEval = 3
    val recalls = (0 until nEval).map { j =>
      val (terms, v) = query(seed, s, 1000000 + j)
      val got = docs(call(s, terms, v).collect()).toSet
      val truth = docs(HybridSearch.similarCases(s.corpus, "doc_id", "text", "embedding",
        terms, v, k = 20, candidates = 100, centroids = None).collect()).toSet
      if (truth.isEmpty) 1.0 else (got & truth).size.toDouble / truth.size
    }
    val recall = recalls.sum / recalls.size
    val cached = ctx.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val ratio = cached.toDouble / s.corpusBytes
    Outcome(ratio, Seq(
      Check("recall_at_20_at_least_0.7", recall >= 0.7, f"recall $recall%.3f over $nEval queries"),
      Check("repeated_calls_identical", repeats.nonEmpty && repeats.forall(identity),
        s"${repeats.count(identity)}/${repeats.size} repeated top-20 lists identical")),
      Seq(Metric("search_p50_ms", Main.median(opMs), "ms"),
        Metric("search_p95_ms", Main.quantile(opMs, 0.95), "ms"),
        Metric("search_recall_at_20", recall, "ratio"),
        Metric("stored_bytes_ratio", ratio, "ratio")))
  }
}

/**
 * Incremental ingest, run once as a layer probe of the traced
 * pipeline_batch run: one `AvailableNow` catch-up over a landing of 12
 * NDJSON files whose report keys are each re-sent 3 times,
 * `MaudeIngest.stream(maxFilesPerTrigger = 2)` into
 * `Streams.incrementalScd1` (16 buckets, staged by
 * `MaudeFixture.stageFull`), from a fresh state and checkpoint: 6
 * micro-batches that read back and rewrite the state buckets they touch.
 * Its check compares the final state with a one-shot batch fold of the
 * landing that keeps the max `seq` per key.
 */
object CatchUp {
  val Files = 12
  val FilesPerTrigger = 2
  val Sends = 3
  val Keys = Seq("mdr_report_key")

  /** The micro-batch legs in execution order, laid end to end from the
    * trigger's start time as spans. */
  private val Legs = Seq("latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
    "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
    "commitOffsets" -> "commit_offsets")

  def probe(ctx: Ctx, probe: Probe): Seq[Check] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val base = ctx.dir("catchup")
    val (landing, state) = (s"$base/landing", s"$base/state")
    val keys = if (ctx.opts.smoke) 2000 else 20000
    val landingBytes = Inputs.resendLanding(landing, keys, Sends, Files, ctx.opts.seed)
    probe.state.dir = Some(state)
    probe.begin()
    val q = tr.span("streaming.catch_up") {
      val q = Streams.incrementalScd1(
          MaudeIngest.stream(spark, landing, maxFilesPerTrigger = Some(FilesPerTrigger)),
          Keys, Seq("seq"), state, nBuckets = 16, stage = MaudeFixture.stageFull)
        .option("checkpointLocation", s"$base/checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    val d = probe.since()
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    for (p <- progress) {
      var at = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      for ((key, leg) <- Legs; ms <- Option(p.durationMs.get(key))) {
        tr.external(s"streaming.$leg", at, at + ms * 1000L)
        at += ms * 1000L
      }
    }
    tr.count("streaming.batches", progress.size.toDouble)
    tr.count("streaming.microbatch_p50_ms", Main.median(progress.map(_.batchDuration.toDouble)))
    tr.count("streaming.state_bytes", probe.state.maxBytes.toDouble)
    tr.count("streaming.rewrite_per_input_byte", d("exec.output_bytes").toDouble / landingBytes)
    tr.count("streaming.state_read_bytes", (d("exec.input_bytes") - landingBytes).toDouble)

    val expected = MaudeFixture.stageFull(MaudeIngest.batch(spark, landing))
      .withColumn("rn", row_number().over(
        Window.partitionBy(Keys.map(col): _*).orderBy(col("seq").desc)))
      .filter(col("rn") === 1).drop("rn")
    val actual = Streams.readScd1Raw(spark, state).select(expected.columns.map(col): _*)
    val missing = expected.exceptAll(actual).count()
    val extra = actual.exceptAll(expected).count()
    Disk.remove(base)
    Seq(Check("catch_up_micro_batches", q.exception.isEmpty && progress.size == Files / FilesPerTrigger,
        s"${progress.size} micro-batches"),
      Check("catch_up_state_equals_batch_fold", missing == 0 && extra == 0,
        s"$missing missing, $extra extra rows vs the max-seq-per-key fold"))
  }
}
