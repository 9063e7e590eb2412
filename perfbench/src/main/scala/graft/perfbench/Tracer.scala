package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{ExecutionEndAccess, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark work attributed to one job group: every call the benchmark
  * makes into graft runs under a job group of its own. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var catalystMs = 0L
}

/** Collects per-job-group counters from the scheduler and SQL events. */
final class CountingListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val executionGroup = new ConcurrentHashMap[Long, String]()
  @volatile var callbackNs = 0L

  def counters(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(SparkContextGroupKey)))
      .getOrElse(Tracer.Unattributed)
    val c = counters(g)
    c.synchronized { c.jobs += 1 }
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, Tracer.Unattributed))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val c = counters(stageGroup.getOrDefault(e.stageId, Tracer.Unattributed))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        executionGroup.put(s.executionId, s.jobGroupId.getOrElse(Tracer.Unattributed))
      case end: SparkListenerSQLExecutionEnd =>
        val ms = ExecutionEndAccess.catalystMs(end)
        val c = counters(executionGroup.getOrDefault(end.executionId, Tracer.Unattributed))
        c.synchronized { c.catalystMs += ms }
      case _ =>
    }
  }

  private def SparkContextGroupKey = "spark.jobGroup.id"

  def groups: Map[String, Counters] = {
    import scala.jdk.CollectionConverters._
    byGroup.asScala.toMap
  }
}

/** One call into graft, as the benchmark saw it. `op` names the
  * operation of the workload the call belongs to (spans of one pass
  * share it); `group` is the job group its Spark work ran under. */
final case class Span(id: Int, name: String, layer: String, startNs: Long,
                      endNs: Long, parent: Int, op: String) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"perfbench-span-$id"
}

/** Spans around each public call, with Spark counters attributed per
  * span by job group. When disabled it records nothing and sets no job
  * group, so untraced runs pay no tracing cost. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new CountingListener
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  private var currentOp = "setup"
  private var bookkeepingNs = 0L
  private var on = false

  def enabled: Boolean = on

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def disable(): Unit = if (on) {
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def op(name: String): Unit = currentOp = name

  /** Run `f` as span `name` of `layer`. Nested calls become child spans. */
  def span[A](name: String, layer: String)(f: => A): A = {
    if (!on) return f
    val t0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    sc.setJobGroup(s"perfbench-span-$id", name, interruptOnCancel = false)
    bookkeepingNs += System.nanoTime() - t0
    val start = System.nanoTime()
    try f
    finally {
      val end = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-span-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, layer, start, end, parent, currentOp)
      bookkeepingNs += System.nanoTime() - end
    }
  }

  /** Every recorded span, with the counters of its own job group. */
  def finish(): (Seq[Span], Map[String, Counters]) = {
    ListenerBusAccess.drain(sc)
    (spans.toSeq, listener.groups)
  }

  /** Time the tracer itself spent: span bookkeeping on the client
    * thread plus listener callbacks on the bus thread. */
  def ownCostSeconds: Double = (bookkeepingNs + listener.callbackNs) / 1e9
}

object Tracer {
  val Unattributed = "unattributed"

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover. Children never overlap (one client thread). */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val childTime = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }
}
