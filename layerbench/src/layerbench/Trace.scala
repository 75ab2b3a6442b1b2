package layerbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Layer tracing, measured from outside the program.
  *
  * Spans are recorded by the benchmark around its calls into the program's
  * public functions; a [[SparkListener]] and a [[QueryExecutionListener]]
  * registered by the benchmark record every job, task and query plan. At
  * the end the two are joined by wall-clock time: a job or plan belongs to
  * the top-level span that was open when it started (the benchmark drives
  * the program from one thread, so top-level spans never overlap).
  *
  * Inside an `analysis` span the jobs are split further between
  * correlation, Granger and forecast by their call site (the stack Spark
  * records for the job's stages) or, for the artifact writes, by the path
  * the job writes to. Nothing in the program is changed for this.
  *
  * With tracing off every `span` is a plain call and no listener exists.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Wall-clock ms on the listener's clock, measured with the monotonic one. */
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private val regions = mutable.ArrayBuffer[(Double, Double)]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val tasks = mutable.HashMap[Int, mutable.ArrayBuffer[Task]]()
  private val sqlText = mutable.HashMap[Long, String]()
  private val planExec = mutable.HashMap[Long, Long]() // query execution id → SQL execution id
  private val plans = mutable.ArrayBuffer[Plan]()
  private var depth = 0

  /** Run `body` as one span of `layer`; `label` names a sub-part (a
    * catalog query). Nested spans are recorded but do not own jobs. */
  def span[A](layer: String, label: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val t0 = nowMs()
      depth += 1
      try body
      finally {
        depth -= 1
        val s = Span(layer, label, t0, nowMs(), depth)
        synchronized { spans += s }
      }
    }

  /** A timed region: the benchmark's own clock for one operation. Spans
    * must cover it (the coverage metric checks that they do). */
  def region[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a0 = nowMs()
    val out = body
    val secs = (System.nanoTime() - t0) / 1e9
    if (enabled) synchronized { regions += ((a0, a0 + secs * 1000)) }
    (out, secs)
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val details = e.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n")
        val exec = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, details, exec)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time.toDouble))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        val m = e.taskMetrics
        val (shuffle, spill) =
          if (m == null) (0L, 0L)
          else (m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
        tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          Task(e.taskInfo.duration.toDouble, shuffle, spill)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
          sqlText(s.executionId) = s.details + "\n" + s.physicalPlanDescription
        }
        case s: SparkListenerSQLExecutionEnd =>
          // the event's query execution is Spark-private to Scala code; the
          // accessor itself is public
          s.getClass.getMethod("qe").invoke(s) match {
            case qe: QueryExecution => Tracer.this.synchronized { planExec(qe.id) = s.executionId }
            case _ =>
          }
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) Tracer.this.synchronized {
          plans += Plan(qe.id, ph.map(_.startTimeMs).min.toDouble, ph.map(_.durationMs).sum.toDouble)
        }
      }
    })
  }

  /** Wait until the listener buses have delivered every job end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10_000_000_000L
    def open = synchronized(jobs.values.count(_.endMs.isNaN))
    while (open > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(300) // the query-execution bus trails the job bus
  }

  /** Forget set-up: the metrics cover what runs after this call. */
  def startMeasuring(): Unit = synchronized { spans.clear(); regions.clear() }

  /** Fold spans, jobs, tasks and plans into per-layer metrics, per round
    * of the workload (one tick, one refresh cycle, one catalog pass). */
  def metrics(rounds: Int): Map[String, Double] = synchronized {
    // only spans inside timed regions count: set-up and checks are not measured
    val top = spans.filter(s => s.depth == 0 &&
      regions.exists { case (a, b) => s.start >= a - 1 && s.end <= b + 1 }).sortBy(_.start)
    def owner(t: Double): Option[Span] = top.find(s => s.start <= t && t <= s.end)

    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v

    // spans: time per layer, and per catalog query
    top.foreach { s =>
      add(s"${s.layer}.ms", s.end - s.start)
      if (s.label.nonEmpty) add(s"${s.label}.ms", s.end - s.start)
    }

    // jobs → layer (and sub-layer inside analysis)
    val jobLayer = mutable.HashMap[Int, String]()
    jobs.values.foreach { j =>
      owner(j.startMs).foreach { s =>
        val layer =
          if (s.layer != "analysis") s.layer
          else analysisPart(j.details + j.execId.flatMap(sqlText.get).getOrElse(""))
        jobLayer(j.id) = layer
        add(s"$layer.jobs", 1)
        if (layer != s.layer) add(s"${s.layer}.jobs", 1)
        if (s.label.nonEmpty) add(s"${s.label}.jobs", 1)
      }
    }
    // sub-layer busy time: union of its jobs' intervals
    for (part <- AnalysisParts) {
      val iv = jobs.values.filter(j => jobLayer.get(j.id).contains(part)).map(j => (j.startMs, j.endMs))
      out(s"$part.ms") = unionLength(iv.toSeq)
    }
    // plans: phase time of every query execution
    plans.foreach { p =>
      owner(p.startMs).foreach { s =>
        val layer =
          if (s.layer != "analysis") s.layer
          else analysisPart(planExec.get(p.id).flatMap(sqlText.get).getOrElse(""))
        add(s"$layer.plan_ms", p.ms)
        if (layer != s.layer) add(s"${s.layer}.plan_ms", p.ms)
        if (s.label.nonEmpty) add(s"${s.label}.plan_ms", p.ms)
        add("spark.plan_ms", p.ms)
      }
    }
    // tasks
    var worst = (0.0, 1.0) // (max task ms, skew) of the stage with the longest task
    tasks.foreach { case (stage, ts) =>
      val layers = stageJob.get(stage).flatMap(jobLayer.get).toSeq
      val parents = layers.flatMap(l => if (AnalysisParts.contains(l)) Seq(l, "analysis") else Seq(l))
      val ms = ts.map(_.ms).sum
      val sh = ts.map(_.shuffle).sum / 1048576.0
      val sp = ts.map(_.spill).sum / 1048576.0
      if (layers.nonEmpty) {
        (parents :+ "spark").foreach { l =>
          add(s"$l.task_ms", ms); add(s"$l.shuffle_mb", sh); add(s"$l.spill_mb", sp)
        }
        val durs = ts.map(_.ms).toSeq
        val mx = durs.max
        if (durs.size >= 2 && mx > worst._1) worst = (mx, mx / math.max(median(durs), 1.0))
      }
    }

    // gaps: span time with no job of any kind running
    val allJobs = jobs.values.map(j => (j.startMs, j.endMs)).toSeq
    top.foreach { s =>
      val busy = unionLength(allJobs.map { case (a, b) => (a max s.start, b min s.end) }
        .filter { case (a, b) => b > a })
      add(s"${s.layer}.gap_ms", (s.end - s.start) - busy)
    }
    // the spark layer: every timed region
    regions.foreach { case (a, b) =>
      val inside = jobs.values.filter(j => j.startMs >= a && j.startMs <= b).toSeq
      add("spark.jobs", inside.size)
      val busy = unionLength(inside.map(j => (j.startMs, j.endMs min b)))
      add("spark.ms", busy)
      add("spark.gap_ms", (b - a) - busy)
    }
    // coverage: the share of each timed region that top-level spans cover
    val cover = regions.map { case (a, b) =>
      unionLength(top.map(s => (s.start max a, s.end min b)).filter { case (x, y) => y > x }.toSeq) /
        math.max(b - a, 1e-9)
    }
    val perRound = out.map { case (k, v) => k -> v / math.max(rounds, 1) }
    perRound("spark.skew") = worst._2
    perRound("trace.coverage") = if (cover.isEmpty) 0.0 else cover.min
    perRound("trace.round_ms") = regions.map { case (a, b) => b - a }.sum / math.max(rounds, 1)
    perRound.toMap
  }

  private def analysisPart(text: String): String =
    if (text.contains("Granger.scala") || text.contains("/causality")) "granger"
    else if (text.contains("Forecast.scala") || text.contains("/forecasts") ||
      text.contains("/models/")) "forecast"
    else if (text.contains("Correlation.scala") || text.contains("/correlation")) "correlation"
    else "analysis"
}

object Tracer {
  final case class Span(layer: String, label: String, start: Double, end: Double, depth: Int)
  final case class Job(id: Int, startMs: Double, endMs: Double, details: String, execId: Option[Long])
  final case class Task(ms: Double, shuffle: Long, spill: Long)
  final case class Plan(id: Long, startMs: Double, ms: Double)

  val Layers: Seq[String] = Seq("ingest", "preprocess", "integrate", "serve", "analysis",
    "correlation", "granger", "forecast", "fixpoint", "lifecycle", "spark")
  val Fields: Seq[String] = Seq("ms", "jobs", "plan_ms", "task_ms", "gap_ms", "shuffle_mb", "spill_mb")
  val AnalysisParts: Set[String] = Set("correlation", "granger", "forecast")
  /** Metrics of one layer only. */
  val Extras: Seq[String] = Seq("preprocess.kept_ratio", "serve.cache_fill_ms", "serve.cache_mb",
    "granger.tests", "forecast.fits", "spark.skew", "jvm.gc_ms", "trace.coverage", "trace.round_ms")

  /** Every per-layer metric a traced run prints, on every workload (0 where
    * the workload does not touch the layer). */
  def perLayerNames(queries: Seq[String]): Seq[String] =
    (for (l <- Layers; f <- Fields) yield s"$l.$f") ++ Extras ++
      (for (q <- queries; f <- Seq("ms", "jobs", "plan_ms")) yield s"$q.$f")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    iv.filterNot(_._2.isNaN).sortBy(_._1).foreach { case (a, b) =>
      if (hi.isNaN || a > hi) { if (!hi.isNaN) total += hi - lo; lo = a; hi = b }
      else if (b > hi) hi = b
    }
    if (!hi.isNaN) total += hi - lo
    total
  }
}
