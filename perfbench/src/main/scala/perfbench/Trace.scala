package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` groups the spans of one benchmark
  * operation; `parent` is the enclosing span (0 for an op's root). Times are
  * epoch nanoseconds so listener events (epoch milliseconds) line up. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark-side counts attributed to one span. */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleWrite, shuffleRead, spill, resultBytes, inputBytes = 0L
  var planNs, executions, exchanges = 0L
  /** Task [launch, finish] intervals in epoch ms, for the idle-time union. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans around calls into the program's layers and attributes Spark
  * listener events to them.
  *
  * A job belongs to the span named by the `perfbench.span` local property of
  * the thread that submitted it; the tracer sets that property around every
  * span it opens on the calling thread. Jobs from threads the benchmark does
  * not own (the dashboard's HTTP handler) carry no property and fall back to
  * the innermost span whose window holds the job's start time. Query
  * executions carry no thread property at all, so they are attributed by
  * the start time of their first planning phase.
  *
  * Listeners are registered only between `attach` and `detach`. With
  * `enabled = false`, `span` only runs its body: untraced passes pay no
  * tracing cost. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobEvents = new ConcurrentLinkedQueue[(Long, Long, Seq[Int])]() // (span or -1, epoch ms, stages)
  private val taskEvents = new ConcurrentLinkedQueue[(Int, TaskInfoLite)]()
  private val qeEvents = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (epoch ms, plan ns, exchanges)

  private val Prop = "perfbench.span"
  private val gcByOp = mutable.Map.empty[Long, Long]
  /** Driver GC nanoseconds inside each op (root span), by op id. */
  def gcNsByOp: Map[Long, Long] = gcByOp.toMap
  private val sc = spark.sparkContext

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(-1L)
      jobEvents.add((owner, e.time, e.stageIds))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null)
        taskEvents.add(e.stageId -> TaskInfoLite(i.launchTime, i.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize,
          m.inputMetrics.bytesRead))
    }
  }

  private object ExchangeCounter extends AdaptiveSparkPlanHelper {
    def apply(qe: QueryExecution): Long =
      collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeLike => e
        case e: BroadcastExchangeLike => e
      }.size.toLong
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
      val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum
      val ex = try ExchangeCounter(qe) catch { case _: Throwable => 0L }
      qeEvents.add((start, planMs * 1000000L, ex))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Delivers the events posted so far, then unregisters the listeners. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Time `body` as span `name`; a span opened with no span open starts a new
    * op. Returns the body's value. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val id = nextId.incrementAndGet()
    val s = Span(id, parent.map(_.id).getOrElse(0L), parent.map(_.op).getOrElse(id), name,
      Clock.epochNanos())
    spans.synchronized(spans += s)
    stack.push(s)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    val gc0 = if (parent.isEmpty) Main.gcNanos() else 0L
    try body
    finally {
      s.end = Clock.epochNanos()
      if (parent.isEmpty) gcByOp(id) = Main.gcNanos() - gc0
      stack.pop()
      sc.setLocalProperty(Prop, prev)
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Folds the delivered listener events into per-span counts. Call once,
    * after the last `detach`. */
  def attribute(): Map[Long, Counts] = {
    val all = allSpans
    val byId = all.map(s => s.id -> s).toMap
    val counts = mutable.Map.empty[Long, Counts]
    val stageSpan = mutable.Map.empty[Int, Long]
    def of(id: Long) = counts.getOrElseUpdate(id, new Counts)
    // innermost span whose window holds `ms`
    def byTime(ms: Long): Option[Span] = {
      val ns = ms * 1000000L
      all.filter(s => s.start <= ns && s.end >= ns)
        .sortBy(s => s.end - s.start).headOption
    }
    jobEvents.asScala.foreach { case (owner, ms, stageIds) =>
      val sp = if (owner >= 0 && byId.contains(owner)) byId.get(owner) else byTime(ms)
      sp.foreach { s =>
        of(s.id).jobs += 1
        stageIds.foreach(st => stageSpan(st) = s.id)
      }
    }
    val stagesSeen = mutable.Set.empty[Int]
    taskEvents.asScala.foreach { case (stage, t) =>
      stageSpan.get(stage).orElse(byTime(t.launch).map(_.id))
        .foreach { id =>
          val c = of(id)
          if (stagesSeen.add(stage)) c.stages += 1
          c.tasks += 1
          c.taskRunMs += t.runMs; c.taskCpuNs += t.cpuNs; c.taskGcMs += t.gcMs
          c.shuffleWrite += t.shW; c.shuffleRead += t.shR; c.spill += t.spill
          c.resultBytes += t.result; c.inputBytes += t.input
          c.taskIntervals += (t.launch -> t.finish)
        }
    }
    qeEvents.asScala.foreach { case (ms, planNs, ex) =>
      byTime(ms).foreach { s =>
        val c = of(s.id)
        c.planNs += planNs; c.executions += 1; c.exchanges += ex
      }
    }
    counts.toMap
  }
}

/** The task-end fields the tracer keeps. */
final case class TaskInfoLite(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                              gcMs: Long, shW: Long, shR: Long, spill: Long,
                              result: Long, input: Long)

object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Monotonic nanoseconds aligned to the epoch at class load. */
  def epochNanos(): Long = base + System.nanoTime()
}
