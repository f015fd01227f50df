package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span tracer for the benchmark's own calls into each layer.
  *
  * A span is (name, start, end, parent, iteration), opened on the driver
  * thread around one public call. While a span is open its id rides the
  * Spark local property [[Trace.SpanKey]], so every job the call submits
  * (including jobs of a streaming query started inside it, whose thread
  * inherits the property) carries the innermost open span; task metrics
  * reach the span through their stage's job. Planning phases
  * (QueryExecutionListener) and streaming progress
  * (StreamingQueryListener) carry wall-clock timestamps and go to the
  * innermost span open at that instant. Codegen compiles
  * (CodegenMetrics) are read at span boundaries.
  *
  * Recording can be paused: spans are then not opened, and events
  * outside every span are dropped, so one run can time traced and
  * untraced iterations side by side. Nothing is written until
  * [[report]]. */
final class Trace(spark: SparkSession) {
  import Trace._

  final class Span(val id: Int, val name: String, val parent: Int,
      val iter: Int, val t0Ns: Long, val t0Ms: Long, val cg0: Long) {
    var t1Ns: Long = 0L
    var t1Ms: Long = 0L
    var cg1: Long = 0L
    var cgMeanMs: Double = 0.0
    def ms: Double = (t1Ns - t0Ns) / 1e6
  }

  /** Task-metric sums of one span (innermost attribution). */
  final class Counters {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val bytesRead = new AtomicLong
    val bytesWritten = new AtomicLong
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var recording = false
  private var iteration = -1

  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  /** (phase start ms, planning ms) per finished query execution. */
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  /** (trigger start ms, durationMs map) per streaming progress event. */
  private val progress =
    new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  /** Start recording the given iteration's spans and events. */
  def resume(iter: Int): Unit = { iteration = iter; recording = true }

  def pause(): Unit = recording = false

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` inside a span; a no-op wrapper while paused. */
  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        iteration, System.nanoTime(), System.currentTimeMillis(), compiles)
      spans += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.t1Ns = System.nanoTime()
        s.t1Ms = System.currentTimeMillis()
        s.cg1 = compiles
        s.cgMeanMs =
          CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanKey,
          parent.map(_.id.toString).orNull)
      }
    }

  private def spanOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)

  private def countersOf(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOfProps(e.properties)
      if (s >= 0) {
        jobSpan.put(e.jobId, s)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageSpan.putIfAbsent(st, s))
        countersOf(s).jobs.incrementAndGet()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobSpan.containsKey(e.jobId)) jobEnd.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        val c = countersOf(s)
        c.tasks.incrementAndGet()
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.diskBytesSpilled)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min,
          phases.map(_.durationMs).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (d.contains("addBatch"))
        progress.add((java.time.Instant.parse(p.timestamp).toEpochMilli,
          d.toMap))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Detach the listeners after the listener bus delivered the events of
    * every job started so far (bounded wait). */
  def close(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var stable = 0
    var last = -1
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = jobEnd.size
      stable = if (n == jobStart.size && n == last) stable + 1 else 0
      last = n
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Innermost span open at wall-clock `ms`. */
  private def spanAt(ms: Long, all: Seq[Span]): Option[Span] =
    all.filter(s => s.t0Ms <= ms && ms <= s.t1Ms).sortBy(_.t0Ns).lastOption

  /** Aggregates over the traced iterations. */
  final class Report(val iterations: Int) {
    val all: Seq[Span] = spans.toSeq
    private val children: Map[Int, Seq[Span]] = all.groupBy(_.parent)
    private def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
    private def subtree(s: Span): Seq[Span] =
      s +: kids(s).flatMap(subtree)
    def selfMs(s: Span): Double = s.ms - kids(s).map(_.ms).sum
    def named(name: String): Seq[Span] = all.filter(_.name == name)
    /** Self time of each span with `name`, in ms. */
    def selfMsEach(name: String): Seq[Double] = named(name).map(selfMs)
    private def c(s: Span): Option[Counters] = Option(counters.get(s.id))
    private def inclusive(s: Span, f: Counters => Long): Long =
      subtree(s).flatMap(c).map(f).sum
    private def perIter(x: Double): Double =
      if (iterations == 0) 0.0 else x / iterations

    /** Per-iteration total self time of all spans with `name`. */
    def selfMsPerIter(name: String): Double =
      perIter(named(name).map(selfMs).sum)
    /** Per-iteration total wall time of all spans with `name`. */
    def msPerIter(name: String): Double = perIter(named(name).map(_.ms).sum)
    /** Per-iteration sum of a counter over the subtrees of `name`. */
    def countPerIter(name: String, f: Counters => Long): Double =
      perIter(named(name).map(inclusive(_, f)).sum.toDouble)
    /** Per-iteration sum of a counter over every span. */
    def totalPerIter(f: Counters => Long): Double =
      perIter(all.flatMap(c).map(f).sum.toDouble)

    private val roots = all.filter(_.parent < 0)

    /** Per-iteration planning ms of query executions inside a span. */
    def planMsPerIter: Double =
      perIter(plans.asScala.toSeq.collect {
        case (t, ms) if spanAt(t, all).isDefined => ms
      }.sum.toDouble)

    /** Streaming progress events that fell inside a traced span. */
    val triggers: Seq[Map[String, Long]] = progress.asScala.toSeq
      .filter { case (t, _) => spanAt(t, all).isDefined }.map(_._2)

    /** Codegen compiles inside the traced iterations. */
    def codegenCompiles: Double =
      perIter(roots.map(s => s.cg1 - s.cg0).sum.toDouble)
    /** Compiles times the compile-time histogram's mean at span end. */
    def codegenMs: Double =
      perIter(roots.map(s => (s.cg1 - s.cg0) * s.cgMeanMs).sum)

    /** Time of span `s` with no job of its subtree running, in ms. */
    private def idleMs(s: Span): Double = {
      val ids = subtree(s).map(_.id).toSet
      val iv = jobSpan.asScala.toSeq.filter { case (_, x) => ids(x) }
        .flatMap { case (j, _) =>
          for (a <- Option(jobStart.get(j)); b <- Option(jobEnd.get(j)))
            yield (math.max(a, s.t0Ms), math.min(b, s.t1Ms))
        }.filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      math.max(0.0, s.ms - covered)
    }

    /** Root-span time with no job of that iteration running. */
    def gapMsPerIter: Double = perIter(roots.map(idleMs).sum)

    /** Per-iteration driver time of the spans `name`: their time with no
      * job of theirs running, less the planning of the queries that
      * started in them. Work a lazy caller handed to the span (the jobs
      * and the plan of its query) is thereby left out. */
    def driverMsPerIter(name: String): Double = perIter(named(name).map {
      s =>
        val planning = plans.asScala.toSeq.collect {
          case (t, ms) if s.t0Ms <= t && t <= s.t1Ms => ms
        }.sum
        math.max(0.0, idleMs(s) - planning)
    }.sum)

    /** Root-span time not covered by a child span. */
    def unattributedMsPerIter: Double = perIter(roots.map(selfMs).sum)
  }

  def report(iterations: Int): Report = new Report(iterations)
}

object Trace {
  val SpanKey = "perfbench.span"
}
