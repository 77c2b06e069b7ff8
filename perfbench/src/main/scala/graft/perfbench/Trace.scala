package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the id of
  * the span that caused it (0 for a root); times are epoch nanoseconds.
  */
final case class Span(id: Int, parent: Int, name: String, label: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out with their self time (duration minus the part of it that
  * child spans cover). Each thread has its own stack of open spans.
  */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  /** Epoch-based nanos, so spans built from Spark's millisecond phase
    * timestamps share one clock with the harness's own spans.
    */
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset

  /** The innermost span open on this thread (0 for none). */
  def current: Int = stack.get.headOption.getOrElse(0)

  def apply[T](name: String, label: String = "")(body: => T): T =
    under(current, name, label)(body)

  /** A span whose parent was opened on another thread. */
  def under[T](parent: Int, name: String, label: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val saved = stack.get
    stack.set(id :: saved)
    val t0 = now()
    try body
    finally {
      stack.set(saved)
      synchronized { done += Span(id, parent, name, label, t0, now()); () }
    }
  }

  /** An interval measured elsewhere (Spark's planning phases, reported on
    * the listener thread). Its parent is resolved at the end: the
    * innermost span around the interval's midpoint.
    */
  def add(name: String, label: String, start: Long, end: Long): Unit = synchronized {
    done += Span(ids.incrementAndGet(), -1, name, label, start, end); ()
  }

  def all: Seq[Span] = synchronized {
    val (loose, placed) = done.toList.partition(_.parent < 0)
    placed ++ loose.map { sp =>
      val mid = sp.start / 2 + sp.end / 2
      val around = placed.filter(p => p.start <= mid && mid <= p.end)
      sp.copy(parent = if (around.isEmpty) 0 else around.minBy(p => p.end - p.start).id)
    }
  }.sortBy(_.start)

  /** Self time per span id: duration minus the union of its children. */
  def selfTimes: Map[Int, Long] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - math.max(a, reach), b)
        }._1
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** Spark listeners registered from the benchmark for the traced run:
  * per-query plan shape and planning phases, task metrics, and streaming
  * progress. Counters accumulate from [[reset]] on.
  */
final class Layers(spans: Spans) {
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val callbackNanos = new AtomicLong(0)
  val codegenFallbacks = new AtomicLong(0)
  val peakMem = new AtomicLong(0)
  val lastError = new AtomicReference[String](null)

  def add(k: String, v: Double): Unit = { counters.merge(k, v, (a, b) => a + b); () }
  def get(k: String): Double = Option(counters.get(k)).map(_.doubleValue).getOrElse(0.0)
  def reset(): Unit = { counters.clear(); peakMem.set(0); callbackNanos.set(0) }
  def listenerSeconds: Double = callbackNanos.get / 1e9

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => lastError.set(e.toString) }
    finally { callbackNanos.addAndGet(System.nanoTime() - t0); () }
  }

  /** Every physical node of the final (post-AQE) plan, query stages and
    * subqueries included.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val ns = nodes(qe.executedPlan)
    add("plan.queries", 1)
    add("plan.nodes", ns.size)
    ns.foreach {
      case s: FileSourceScanExec =>
        add("tables.scans", 1)
        s.metrics.get("numOutputRows").foreach(m => add("tables.scan_rows", m.value.toDouble))
        s.metrics.get("filesSize").foreach(m => add("tables.scan_bytes", m.value.toDouble))
      case _: InMemoryTableScanExec => add("caches.reads", 1)
      case _: ShuffleExchangeExec | _: BroadcastExchangeExec => add("exec.exchanges", 1)
      case _: BroadcastHashJoinExec => add("exec.bhj", 1)
      case _: SortMergeJoinExec => add("exec.smj", 1)
      case _: ShuffledHashJoinExec => add("exec.shj", 1)
      case _: WholeStageCodegenExec => add("exec.wscg_stages", 1)
      case _ =>
    }
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      phases.get(ph).foreach(p => add(s"plan.${ph}_s", p.durationMs / 1e3))
    }
    val starts = phases.values.map(_.startTimeMs)
    val ends = phases.values.map(_.endTimeMs)
    if (starts.nonEmpty) {
      add("plan.s", phases.values.map(_.durationMs).sum / 1e3)
      spans.add("plan", "", starts.min * 1000000L, ends.max * 1000000L)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(recordPlan(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      timed(add("plan.failed", 1))
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = timed {
      val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      add("exec.jobs", 1)
      if (desc.startsWith("construct:")) add("queries.construct_jobs", 1)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      timed(add("exec.stages", 1))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = timed {
      val m = t.taskMetrics
      if (m != null) {
        add("exec.tasks", 1)
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
        add("sources.write_bytes", m.outputMetrics.bytesWritten.toDouble)
        peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      if (p.numInputRows > 0) {
        add("streaming.batches", 1)
        add("streaming.rows", p.numInputRows.toDouble)
        val d = p.durationMs
        Option(d.get("triggerExecution")).foreach(v => add("streaming.batch_s", v / 1e3))
        Option(d.get("addBatch")).foreach(v => add("streaming.add_batch_s", v / 1e3))
        add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      }
    }
  }

  /** Counts whole-stage-codegen compile failures (Spark logs them at
    * ERROR and silently falls back to interpreted evaluation).
    */
  def installCodegenCounter(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    try {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val app = new AbstractAppender("perfbench-codegen-fail-counter", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
          if (e.getLoggerName.endsWith("CodeGenerator") &&
              e.getMessage.getFormattedMessage.contains("Failed to compile")) {
            codegenFallbacks.incrementAndGet(); ()
          }
      }
      app.start()
      ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
      ctx.updateLoggers()
    } catch { case e: Throwable => lastError.set(s"codegen counter: $e") }
  }

  def register(s: SparkSession): Unit = {
    s.listenerManager.register(queryListener)
    s.sparkContext.addSparkListener(sparkListener)
    s.streams.addListener(streamListener)
  }

  def unregister(s: SparkSession): Unit = {
    s.listenerManager.unregister(queryListener)
    s.sparkContext.removeSparkListener(sparkListener)
    s.streams.removeListener(streamListener)
  }
}
