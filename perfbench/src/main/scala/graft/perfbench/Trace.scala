package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a call into a layer. `parent` is the span that
  * was open when it started (-1 for an operation's root span); `op` is
  * the operation it belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** Spans and per-operation counters of the traced run. Spans stay in
  * memory and are written out by the runner when the run ends.
  *
  * With `enabled = false` no listener is registered and [[span]] only
  * runs its body: the untraced run measures graft alone.
  *
  * Counters from Spark's listener buses are attributed to the operation
  * set by [[beginOp]]. The runner drains the bus ([[drain]]) before it
  * calls [[endOp]], so every event an operation caused arrives while
  * that operation is current, and events of the benchmark's own work
  * between operations (result capture, release) are dropped.
  */
final class Trace(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0
  @volatile private var op = -1

  /** Per-op counters, keyed by metric name. Written by listener threads. */
  val counters = mutable.Map[Int, mutable.Map[String, Double]]()
  /** Per-op job intervals (start, end epoch ms), for the job-span union. */
  val jobIntervals = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
  private val jobStarts = mutable.Map[Int, Long]()
  /** Stages submitted inside a `sync.run` span: their input is hashing. */
  private val syncStages = mutable.Set[Int]()

  def add(name: String, v: Double): Unit = {
    val o = op
    if (o >= 0) counters.synchronized {
      val m = counters.getOrElseUpdate(o, mutable.Map())
      m(name) = m.getOrElse(name, 0.0) + v
    }
  }

  /** Time `body` as a span. Spans may open on another thread while the
    * opening thread waits (a streaming query's batch thread), so the
    * open stack is guarded. The innermost span's name rides on jobs the
    * calling thread submits, as local property `perfbench.span`.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent, prevProp) = synchronized {
        val id = nextId; nextId += 1
        val parent = open.headOption.map(_._1).getOrElse(-1)
        open = (id, name, System.nanoTime()) :: open
        (id, parent, sc.map(_.getLocalProperty(SpanProp)))
      }
      sc.foreach(_.setLocalProperty(SpanProp, name))
      val t0 = System.nanoTime()
      try body
      finally synchronized {
        sc.foreach(_.setLocalProperty(SpanProp, prevProp.orNull))
        open = open.filterNot(_._1 == id)
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  private var sc: Option[org.apache.spark.SparkContext] = None
  private val SpanProp = "perfbench.span"

  def beginOp(id: Int): Unit = op = id

  def endOp(): Unit = op = -1

  def drain(spark: SparkSession): Unit = if (enabled) {
    try org.apache.spark.graftshim.ListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        add("spark.jobs", 1)
        if (e.properties != null &&
            e.properties.getProperty(SpanProp) == "queries.construct")
          add("queries.construct_jobs", 1)
        jobStarts.synchronized(jobStarts(e.jobId) = e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStarts.synchronized(jobStarts.remove(e.jobId))
        val o = op
        if (o >= 0) s.foreach(st => jobIntervals.synchronized(
          jobIntervals.getOrElseUpdate(o, mutable.ArrayBuffer()) += ((st, e.time))))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        add("spark.stages", 1)
        if (e.properties != null && e.properties.getProperty(SpanProp) == "sync.run")
          syncStages.synchronized(syncStages += e.stageInfo.stageId)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        add("spark.tasks", 1)
        val m = t.taskMetrics
        if (m != null && syncStages.synchronized(syncStages(t.stageId)))
          add("io.hash_input_mb", m.inputMetrics.bytesRead / Trace.MB)
        if (m != null) {
          add("spark.run_ms", m.executorRunTime.toDouble)
          add("spark.cpu_ms", m.executorCpuTime / 1e6)
          add("spark.gc_ms", m.jvmGCTime.toDouble)
          add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / Trace.MB)
          add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Trace.MB)
          add("spark.spill_mb", m.diskBytesSpilled / Trace.MB)
          add("spark.input_mb", m.inputMetrics.bytesRead / Trace.MB)
          add("task.output_mb", m.outputMetrics.bytesWritten / Trace.MB)
        }
        if (t.taskInfo != null) {
          if (t.taskInfo.failed) add("spark.tasks_failed", 1)
          if (t.taskInfo.attemptNumber > 0) add("spark.tasks_retried", 1)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        add("stream.batches", 1)
        val d = e.progress.durationMs
        Seq("addBatch" -> "stream.add_batch_ms", "walCommit" -> "stream.wal_commit_ms",
          "queryPlanning" -> "stream.query_planning_ms",
          "latestOffset" -> "stream.latest_offset_ms").foreach { case (k, n) =>
          if (d.containsKey(k)) add(n, d.get(k).toDouble)
        }
      }
    })
  }
}

object Trace {
  val MB: Double = 1024.0 * 1024.0
}
