package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is the index of the
  * enclosing span (-1 at the root); spans of one op share `op`. */
final case class Span(name: String, op: String, parent: Int,
    startNs: Long, var endNs: Long)

/** What Spark did for one op, attributed from listener events. */
final class OpStats(val op: String, val family: String) {
  var startMs = 0L
  var endMs = 0L
  var jobs = 0
  var stages = 0
  var aqeReplans = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var scanFiles = 0L
  var filesWritten = 0L
  /** (launch ms, finish ms) of every task, for idle time. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** stage id -> task durations (ms), for skew. */
  val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def wallMs: Long = math.max(0L, endMs - startMs)

  /** Op wall time during which no task of the op was running. */
  def idleMs: Long = {
    val iv = taskSpans.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter(t => t._2 > t._1)
      .sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) busy += curB - curA
    math.max(0L, wallMs - busy)
  }

  /** Worst max ÷ median task time over this op's stages that ran at
    * least two tasks and 100 ms of task time (trivial stages excluded:
    * a 1 ms median makes any ratio meaningless). */
  def worstSkew: Double = stageTasks.values.collect {
    case ts if ts.size >= 2 && ts.sum >= 100 =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
  }.foldLeft(0.0)(math.max)
}

/** Marker events: the listener bus delivers a queue's events in order,
  * so once a marker arrives every event posted before it has been
  * handled. */
final case class OpBegin(op: String) extends SparkListenerEvent
final case class OpEnd(op: String) extends SparkListenerEvent
final case class Drain(latch: CountDownLatch) extends SparkListenerEvent

/** Spans and per-op Spark statistics. Disabled, it only tags each op's
  * jobs with a job group and records nothing; enabled, it keeps spans in
  * memory and attaches a SparkListener plus a QueryExecutionListener
  * owned by the benchmark. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var curOp = ""
  /** Every traced op, in run order. */
  val ops = mutable.ArrayBuffer.empty[OpStats]

  /** Open ops by job group; written by the caller, read on the bus. */
  private val byOp =
    new java.util.concurrent.ConcurrentHashMap[String, OpStats]()
  // --- bus-thread state ------------------------------------------------
  private val stageOp = mutable.HashMap.empty[Int, OpStats]
  @volatile private var window: OpStats = null

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty(
        "spark.jobGroup.id")).orNull
      // Threads started before the job group was set do not inherit it;
      // their jobs fall back to the op whose window is open.
      val st = Option(group).map(byOp.get).filter(_ != null).getOrElse(window)
      if (st != null) {
        st.jobs += 1
        e.stageIds.foreach(stageOp(_) = st)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageOp.get(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { st =>
        val ti = e.taskInfo
        st.taskSpans += ((ti.launchTime, ti.finishTime))
        st.stageTasks.getOrElseUpdate(e.stageId,
          mutable.ArrayBuffer.empty) += ti.duration
        val m = e.taskMetrics
        if (m != null) {
          st.taskRunMs += m.executorRunTime
          st.taskCpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.diskBytesSpilled
          st.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case OpBegin(op) => window = byOp.get(op)
      case OpEnd(_) => window = null
      case Drain(l) => l.countDown()
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        if (window != null) window.aqeReplans += 1
      case _ => ()
    }
  }

  /** File counts from each executed action's plan: files read by scan
    * nodes and files written by write commands. The execution listener
    * bus shares the listener queue, so it runs on the same thread as
    * `listener` and sees the same `window`. */
  private val qeListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (window != null) {
        val st = window
        collectWithSubqueries(qe.executedPlan) { case p => p }.foreach {
          case w: DataWritingCommandExec =>
            w.metrics.get("numFiles").foreach(st.filesWritten += _.value)
          case p if p.children.isEmpty =>
            p.metrics.get("numFiles").foreach(st.scanFiles += _.value)
          case _ => ()
        }
      }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    on = false
  }

  /** Blocks until the listener has handled every event posted so far. */
  def drain(): Unit = {
    val l = new CountDownLatch(1)
    org.apache.spark.perfbench.BusBridge.post(sc, Drain(l))
    if (!l.await(60, TimeUnit.SECONDS))
      System.err.println("[perfbench] listener bus did not drain in 60 s")
  }

  /** Runs `body` as one op: its jobs carry the op's job group and, when
    * tracing, its events are attributed to the op's [[OpStats]]. */
  def op[T](id: String, family: String)(body: => T): T = {
    sc.setJobGroup(id, family, interruptOnCancel = false)
    curOp = id
    val st = if (on) {
      val s = new OpStats(id, family)
      byOp.put(id, s)
      org.apache.spark.perfbench.BusBridge.post(sc, OpBegin(id))
      s.startMs = System.currentTimeMillis()
      s
    } else null
    try span("op")(body)
    finally {
      sc.clearJobGroup()
      curOp = ""
      if (st != null) {
        st.endMs = System.currentTimeMillis()
        org.apache.spark.perfbench.BusBridge.post(sc, OpEnd(id))
        drain()
        byOp.remove(id)
        ops += st
      }
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val i = spans.size
      spans += Span(name, curOp, stack.headOption.getOrElse(-1),
        System.nanoTime(), 0L)
      stack.push(i)
      try body
      finally { stack.pop(); spans(i).endNs = System.nanoTime() }
    }

  /** Self time per span name: each span's duration minus the part its
    * child spans cover (children never overlap: one op in flight). */
  def selfTimes: Seq[(String, Double, Int)] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach { s =>
      if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs }
    spans.indices.groupBy(i => spans(i).name).toSeq.map { case (n, is) =>
      (n, is.map(i => spans(i).endNs - spans(i).startNs - child(i)).sum / 1e9,
        is.size)
    }.sortBy(-_._2)
  }

  /** Writes every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":${Json.str(s.name)},"op":${Json.str(s.op)},""" +
        s""""parent":${s.parent},"start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9}}"""
    }
    java.nio.file.Files.write(path,
      scala.jdk.CollectionConverters.SeqHasAsJava(lines.toSeq).asJava)
  }
}
