package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters summed over the Spark work attributed to one span. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
    "jobs" -> 0L, "stages" -> 0L, "tasks" -> 0L, "failed_tasks" -> 0L,
    "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
    "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L,
    "spill_bytes" -> 0L, "output_bytes" -> 0L,
    "blocks" -> 0L, "block_bytes" -> 0L,
    "scan_ms" -> 0L, "files_read" -> 0L, "scan_bytes" -> 0L,
    "exchanges" -> 0L, "roundrobin_exchanges" -> 0L)
  def add(k: String, n: Long): Unit = synchronized { v(k) += n }
  def snapshot: Map[String, Long] = synchronized { v.toMap }
}

/** Spans with counters, recorded from outside the engine.
  *
  * `span` brackets an eager call into a layer and tags every Spark job the
  * call starts with the span's id (through the job group, which the
  * streaming threads a call starts inherit). The listeners attribute task
  * metrics, RDD blocks and executed-plan SQL metrics (from SQL execution
  * events) to the span whose id the work carries. Micro-batches of a live
  * stream are recorded as spans of their own from progress events. With `enabled = false` no listener is
  * registered and `span` only runs its body, so untraced runs do the same
  * work without the bookkeeping.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: String, name: String, parent: String,
                        start: Long, var end: Long = -1L)

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val rddKey = new ConcurrentHashMap[Int, String]()
  private val execKey = new ConcurrentHashMap[Long, String]()
  private var nextId = 0

  /** Micro-batch spans of the live stream, by id. */
  private val batchSpans = new ConcurrentHashMap[String, Span]()
  @volatile var liveQueryId: String = ""

  private def ctr(key: String): Counters =
    counters.computeIfAbsent(key, _ => new Counters)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (stack.isEmpty) "" else stack.top.id
      val s = synchronized {
        nextId += 1
        val sp = Span(s"s$nextId", name, parent, System.currentTimeMillis())
        spans += sp
        sp
      }
      stack.push(s)
      sc.setJobGroup(s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.currentTimeMillis()
        stack.pop()
        if (stack.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(stack.top.id, stack.top.name, interruptOnCancel = false)
      }
    }

  private def keyOf(props: java.util.Properties): String =
    if (props == null) "unattributed"
    else {
      val batch = props.getProperty("streaming.sql.batchId")
      val query = props.getProperty("sql.streaming.queryId")
      if (batch != null && query != null && query == liveQueryId) s"b$batch"
      else Option(props.getProperty("spark.jobGroup.id")).getOrElse("unattributed")
    }

  private object Plans extends AdaptiveSparkPlanHelper {
    def record(key: String, plan: SparkPlan): Unit = {
      val c = ctr(key)
      foreach(plan) { node =>
        node match {
          case e: ShuffleExchangeExec =>
            c.add("exchanges", 1)
            if (e.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
              c.add("roundrobin_exchanges", 1)
          case _ =>
        }
        if (node.nodeName.contains("Scan")) {
          node.metrics.get("scanTime").foreach(m => c.add("scan_ms", m.value))
          node.metrics.get("numFiles").foreach(m => c.add("files_read", m.value))
          node.metrics.get("filesSize").foreach(m => c.add("scan_bytes", m.value))
        }
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = keyOf(e.properties)
      ctr(key).add("jobs", 1)
      e.stageInfos.foreach { st =>
        stageKey.put(st.stageId, key)
        st.rddInfos.foreach(r => rddKey.putIfAbsent(r.id, key))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val key = stageKey.getOrDefault(e.stageInfo.stageId, "unattributed")
      e.stageInfo.rddInfos.foreach(r => rddKey.putIfAbsent(r.id, key))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      ctr(stageKey.getOrDefault(e.stageInfo.stageId, "unattributed")).add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = ctr(stageKey.getOrDefault(e.stageId, "unattributed"))
      c.add("tasks", 1)
      if (e.reason != Success) c.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        c.add("run_ms", m.executorRunTime)
        c.add("cpu_ns", m.executorCpuTime)
        c.add("gc_ms", m.jvmGCTime)
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        c.add("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { id =>
        if (info.storageLevel.isValid) {
          val c = ctr(rddKey.getOrDefault(id.rddId, "unattributed"))
          c.add("blocks", 1)
          c.add("block_bytes", info.memSize + info.diskSize)
        }
      }
    }
    // The end event carries the executed plan (QueryExecution ids differ
    // from SQL execution ids, so a QueryExecutionListener cannot tell which
    // span a plan belongs to); the start event carries the job group.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execKey.put(s.executionId, g))
      case end: SparkListenerSQLExecutionEnd =>
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        if (qe != null)
          Plans.record(execKey.getOrDefault(end.executionId, "unattributed"), qe.executedPlan)
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (p.id.toString == liveQueryId) {
        val id = s"b${p.batchId}"
        batchSpans.put(id, Span(id, "streaming.batch", "", start, start + total))
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = if (enabled) {
    val m = sc.getClass.getMethod("listenerBus")
    val bus = m.invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** One JSON object per span, its counters inline; `unattributed` work is
    * written as a span-less record so the totals still add up. */
  def writeJsonl(path: String, runId: String): Unit = if (enabled) {
    drain()
    val all = synchronized(spans.toList) ++ batchSpans.values.asScala.toList
    val lines = all.map { s =>
      val c = Option(counters.get(s.id)).map(_.snapshot).getOrElse(Map.empty)
      Json.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end) ++
        c.toSeq.sortBy(_._1))
    } ++ Option(counters.get("unattributed")).map { c =>
      Json.obj(Seq("run" -> runId, "id" -> "unattributed", "name" -> "unattributed",
        "parent" -> "", "start_ms" -> 0L, "end_ms" -> 0L) ++ c.snapshot.toSeq.sortBy(_._1))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
