package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `parent` is -1 for the root. Counters collected
  * from the Spark listener (jobs, stages, tasks, task times, bytes)
  * accumulate on the span whose id was the `perfbench.span` local
  * property of the thread that submitted the job. */
final class Span(val id: Int, val parent: Int, val name: String,
    val kind: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit =
    counters.merge(k, v, (a, b) => a + b)
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus the listeners that feed it. Everything
  * is a no-op when `on` is false, so the untraced run pays only for
  * `System.nanoTime` around each operation. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val nextId = new AtomicInteger(0)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  val PropKey = "perfbench.span"

  /** Streaming progress events, one map per trigger. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    Map[String, Double]]()

  val root: Span = open(-1, "workload", "workload")

  def open(parent: Int, name: String, kind: String): Span = {
    val s = new Span(nextId.getAndIncrement(), parent, name, kind,
      System.nanoTime())
    if (on) spans.put(s.id, s)
    s
  }

  def close(s: Span): Unit = s.endNs = System.nanoTime()

  /** Runs `body` inside a child span of `parent`; jobs submitted by this
    * thread meanwhile are attributed to the child. */
  def span[T](parent: Span, name: String, kind: String)(body: Span => T): T = {
    val s = open(parent.id, name, kind)
    val prev = if (on) sc.getLocalProperty(PropKey) else null
    if (on) sc.setLocalProperty(PropKey, s.id.toString)
    try body(s)
    finally {
      close(s)
      if (on) sc.setLocalProperty(PropKey, prev)
    }
  }

  private def spanOf(props: java.util.Properties): Span =
    if (props == null) null
    else Option(props.getProperty(PropKey))
      .map(id => spans.get(id.toInt)).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s != null) {
        s.add("jobs", 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stageSpan.get(e.stageInfo.stageId)
      if (s != null) s.add("stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val sh = m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      val vals = Seq(
        "tasks" -> 1.0,
        "task_run_ms" -> m.executorRunTime.toDouble,
        "task_cpu_ms" -> m.executorCpuTime / 1e6,
        "shuffle_bytes" -> sh.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "small_tasks" -> (if (m.executorRunTime < Tracer.SmallTaskMs) 1.0
          else 0.0))
      val s = stageSpan.get(e.stageId)
      if (s != null) vals.foreach { case (k, v) => s.add(k, v) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Double =
        if (d.containsKey(k)) d.get(k).doubleValue else 0.0
      progress.add(Map(
        "trigger_ms" -> dur("triggerExecution"),
        "add_batch_ms" -> dur("addBatch"),
        "planning_ms" -> dur("queryPlanning"),
        "wal_ms" -> dur("walCommit"),
        "batch_rows" -> p.numInputRows.toDouble,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble))
    }
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** All spans as JSON lines (closed spans only). */
  def spansJson: Seq[String] = {
    val all = mutable.ArrayBuffer.empty[Span]
    spans.values.forEach(s => all += s)
    all.sortBy(_.id).filter(_.endNs >= 0).map { s =>
      val c = mutable.LinkedHashMap.empty[String, Any]
      s.counters.forEach((k, v) => c(k) = v.doubleValue)
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> (s.startNs - root.startNs) / 1e6,
        "dur_ms" -> s.ms, "counters" -> c.toMap)
    }.toSeq
  }
}

object Tracer {
  /** A task shorter than this counts as "small" in spark.small_task_share. */
  val SmallTaskMs = 20L
}
