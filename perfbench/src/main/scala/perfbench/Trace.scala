package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch nanoseconds; `parent` 0 = none. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long)

/** In-memory span recorder plus the Spark listeners that feed it.
  *
  * Spans are taken only in the benchmark's own code, around each call into
  * a public function of an engine layer. Spark jobs become `spark.job`
  * spans, parented through a local property to the span that was
  * open on the submitting thread. Query-planning phases (analysis,
  * optimization, planning) and task metrics are summed into counters.
  * Nothing is recorded while `on` is false. */
final class Trace(sc: SparkContext) {
  @volatile var on = false

  private val originNano = System.nanoTime()
  private val originEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = originEpochNs + (System.nanoTime() - originNano)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, op id)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  /** Parent for spans opened on threads the benchmark did not start (the
    * streaming execution thread): the innermost span open on the client. */
  @volatile private var fallback: (Long, Long) = (0L, 0L)

  def count(name: String, v: Double = 1.0): Unit =
    if (on) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def counterValues: Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def allSpans: Seq[Span] = spans.asScala.toSeq

  private val SpanProp = "perfbench.span"
  private val OpProp = "perfbench.op"

  /** Root span of one op; `op` is its id in the sample log. */
  def op[T](opId: Long, name: String)(body: => T): T =
    if (!on) body else enter(name, Some(opId))(body)

  /** A layer span under whatever span is open on this thread. */
  def span[T](name: String)(body: => T): T =
    if (!on) body else enter(name, None)(body)

  /** The innermost span open on this thread, as (span id, op id): hand it
    * to [[spanIn]] on a worker thread the benchmark's own code fans out to. */
  def context: (Long, Long) = stack.get().headOption.getOrElse(fallback)

  /** A layer span under `ctx`, on a worker thread (parallel backfill tasks).
    * It leaves the streaming fallback alone, since its siblings run at the
    * same time. */
  def spanIn[T](ctx: (Long, Long), name: String)(body: => T): T =
    if (!on) body else enter(name, None, Some(ctx))(body)

  private def enter[T](name: String, rootOf: Option[Long],
                       under: Option[(Long, Long)] = None)(body: => T): T = {
    val outer = stack.get()
    val (parent, opId) = rootOf match {
      case Some(o) => (0L, o)
      case None => under.orElse(outer.headOption).getOrElse(fallback)
    }
    val id = ids.incrementAndGet()
    val prevSpan = sc.getLocalProperty(SpanProp)
    val prevOp = sc.getLocalProperty(OpProp)
    stack.set((id, opId) :: outer)
    val outerFallback = fallback
    if (under.isEmpty) fallback = (id, opId)
    sc.setLocalProperty(SpanProp, id.toString)
    sc.setLocalProperty(OpProp, opId.toString)
    val t0 = now()
    try body
    finally {
      spans.add(Span(id, parent, opId, name, t0, now()))
      stack.set(outer)
      if (under.isEmpty) fallback = outerFallback
      sc.setLocalProperty(SpanProp, prevSpan)
      sc.setLocalProperty(OpProp, prevOp)
    }
  }

  // --------------------------------------------------------- spark listener

  private final case class JobInfo(span: Long, op: Long, startMs: Long)
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val tracedStages = ConcurrentHashMap.newKeySet[Int]()

  private def prop(p: Properties, k: String): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(k))).filter(_.nonEmpty).map(_.toLong)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      prop(e.properties, SpanProp).foreach { s =>
        jobs.put(e.jobId, JobInfo(s, prop(e.properties, OpProp).getOrElse(0L), e.time))
        e.stageIds.foreach(tracedStages.add)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        spans.add(Span(ids.incrementAndGet(), j.span, j.op, "spark.job",
          j.startMs * 1000000L, e.time * 1000000L))
        add("spark.jobs", 1)
        add("spark.job_s", (e.time - j.startMs) / 1e3)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (tracedStages.contains(e.stageInfo.stageId)) add("spark.stages", 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (tracedStages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("spark.tasks", 1)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.executor_gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("spark.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("spark.spill_mb", m.diskBytesSpilled / 1048576.0)
      }
  }

  /** Counter updates from listener threads: the job/stage was traced when
    * it started, so they count even if `on` has flipped since. */
  private def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  // ------------------------------------------------ query execution listener

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = if (on) {
    val ph = qe.tracker.phases
    def sec(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    add("sql.executions", 1)
    add("sql.analysis_s", sec("analysis"))
    add("sql.optimizer_s", sec("optimization"))
    add("sql.planning_s", sec("planning"))
  }

  /** Attach both listeners, from outside the engine. */
  def install(spark: SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
}
