package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Monotonic seconds since the driver started; every time in a run record
  * is on this clock.
  */
object Clock {
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - t0Nanos) / 1e9
  /** Maps a wall-clock instant (epoch ms) onto this clock. */
  def fromEpochMs(ms: Long): Double = (ms - t0EpochMs) / 1e3
}

/** One traced interval: `parent` is the enclosing span's id (0 = none). */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
    counters: Map[String, Double])

/** A streaming query's lifetime and per-batch progress, as reported by
  * Spark's `StreamingQueryListener` (times on [[Clock]]).
  */
final case class QueryRec(runId: String, var source: String, var start: Double, var end: Double,
    batches: ArrayBuffer[BatchRec])

/** One micro-batch: trigger interval, `addBatch` (the foreachBatch body,
  * i.e. `CdcApply.applyBatch` plus the metrics append) and rows read.
  */
final case class BatchRec(batchId: Long, start: Double, end: Double, addBatchS: Double,
    commitS: Double, rows: Long)

/** Spark-side counters summed over the whole session: a `SparkListener` for
  * jobs and task metrics, a `QueryExecutionListener` for Catalyst planning
  * time, a `StreamingQueryListener` for query lifetimes and micro-batches,
  * and the JVM-wide Janino compile time. A span's counters are the
  * difference of two [[snapshot]]s; concurrent work in the session (the
  * catalog's parallel streams) lands in every span open at the time.
  */
final class SparkCounters(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val failedTasks = new AtomicLong
  private val busyMs = new AtomicLong
  private val waitMs = new AtomicLong
  private val spill = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val outputBytes = new AtomicLong
  private val recordsRead = new AtomicLong
  private val queries = new AtomicLong
  private val planMs = new DoubleAdder
  val streams: ArrayBuffer[QueryRec] = ArrayBuffer.empty

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.reason != TaskSuccess) failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        busyMs.addAndGet(m.executorRunTime)
        // scheduler delay + deserialization + shuffle fetch wait: the time a
        // task existed but was not running its own code
        val schedDelay = math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        waitMs.addAndGet(schedDelay + m.executorDeserializeTime +
          m.shuffleReadMetrics.fetchWaitTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      planMs.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streams.synchronized {
        streams += QueryRec(e.runId.toString, "", Clock.fromEpochMs(
          java.time.Instant.parse(e.timestamp).toEpochMilli), Double.NaN, ArrayBuffer.empty)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      streams.synchronized {
        streams.find(_.runId == p.runId.toString).foreach { q =>
          val src = p.sources.headOption.map(_.description).getOrElse("")
          if (q.source.isEmpty) q.source = src
          if (p.numInputRows > 0 || ms("addBatch") > 0)
            q.batches += BatchRec(p.batchId, start, start + ms("triggerExecution") / 1e3,
              ms("addBatch") / 1e3, ms("commitOffsets") / 1e3, p.numInputRows)
        }
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val now = Clock.now
      streams.synchronized(streams.find(_.runId == e.runId.toString).foreach(_.end = now))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] = {
    drain()
    Map(
      "jobs" -> jobs.get.toDouble,
      "tasks" -> tasks.get.toDouble,
      "failed_tasks" -> failedTasks.get.toDouble,
      "task_busy_s" -> busyMs.get / 1e3,
      "task_wait_s" -> waitMs.get / 1e3,
      "spill_bytes" -> spill.get.toDouble,
      "shuffle_bytes" -> shuffleWrite.get.toDouble,
      "output_bytes" -> outputBytes.get.toDouble,
      "records_read" -> recordsRead.get.toDouble,
      "queries" -> queries.get.toDouble,
      "plan_ms" -> planMs.sum,
      "codegen_ms" -> CodeGenerator.compileTime / 1e6)
  }
}

/** In-memory span recorder for the traced run. Off by default: until
  * [[enable]] is called no listener is registered and [[span]] only runs
  * its body, so an untraced window pays nothing for it. Spans nest on the
  * calling thread; all are kept in memory and written out with the run
  * record at the end.
  */
final class Tracer(val runId: String, spark: SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  private var counters: Option[SparkCounters] = None
  private var current = 0
  private var nextId = 1

  def enabled: Boolean = counters.isDefined

  def enable(): SparkCounters = {
    val c = new SparkCounters(spark)
    c.register()
    counters = Some(c)
    c
  }

  def disable(): Unit = { counters.foreach(_.unregister()); counters = None }

  def span[T](name: String)(body: => T): T = counters match {
    case None => body
    case Some(c) =>
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      val before = c.snapshot()
      val start = Clock.now
      try body
      finally {
        val end = Clock.now
        val after = c.snapshot()
        spans += Span(id, parent, name, start, end,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
        current = parent
      }
  }

  /** Adds an already-timed interval (a micro-batch reported by Spark) under
    * `parent`.
    */
  def add(parent: Int, name: String, start: Double, end: Double): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, start, end, Map.empty)
    id
  }

  def lastId: Int = nextId - 1

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  /** A tracer that is never enabled, for untimed and set-up work. */
  val off: Tracer = new Tracer("", null)
}
