package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer, or the op that caused it. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are only kept while `active`; the
  * harness turns it on for traced rounds and writes the spans out when the
  * run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  var active = false
  private var stack: List[Int] = Nil
  private var op = -1

  def beginOp(id: Int): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the slot so children get higher ids
      stack = id :: stack
      val t0 = System.nanoTime
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime)
        stack = stack.tail
      }
    }

  /** Self time per span name: duration minus the part its children cover
    * (children never overlap: every call is made from the client thread). */
  def selfMs(ops: Set[Int]): Map[String, Double] = {
    val kept = spans.filter(s => s != null && ops.contains(s.op))
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    kept.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    kept.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => s.ms - childMs(s.id)).sum }
  }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      if (s != null) out.println(
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

/** Spark work attributed to one op through the `graftbench.op` local
  * property, which Spark copies onto every job the op's thread submits. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Sum of the union of job intervals: how long the op waited on jobs. */
  def jobWaitMs: Double = {
    var total = 0L
    var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total.toDouble
  }
}

object SparkCounters { val OpProperty = "graftbench.op" }

final class SparkCounters extends SparkListener {
  val byOp = mutable.Map.empty[Int, OpCounters]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, Int]

  private def of(op: Int) = byOp.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.OpProperty)))
      .map(_.toInt).getOrElse(-1)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageOp(_) = op)
    of(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val op = jobOp.getOrElse(e.jobId, -1)
    jobStart.remove(e.jobId).foreach(s => of(op).jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageOp.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageOp.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** Planning time per query (analysis + optimizer + physical planning), from
  * each QueryExecution's phase tracker, keyed by when the first phase
  * started so the harness can assign it to the op whose interval holds it. */
final class PlanPhases extends QueryExecutionListener {
  val seen = mutable.ArrayBuffer.empty[(Long, Double)]

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      seen += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Hadoop FileSystem global statistics, summed over schemes. Marker claims
  * through `LakeStorage.createExclusive` on `file://` use java.nio and never
  * appear here; the harness counts those files by listing instead. */
final case class FsStats(readOps: Long, writeOps: Long, listOps: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats =
    FsStats(readOps - o.readOps, writeOps - o.writeOps, listOps - o.listOps, bytesWritten - o.bytesWritten)
}

object FsStats {
  val zero = FsStats(0, 0, 0, 0)
  @annotation.nowarn("cat=deprecation")
  def snapshot(): FsStats =
    FileSystem.getAllStatistics.asScala.foldLeft(zero) { (a, s) =>
      FsStats(a.readOps + s.getReadOps, a.writeOps + s.getWriteOps,
        a.listOps + s.getLargeReadOps, a.bytesWritten + s.getBytesWritten)
    }
}

/** Peak heap occupancy right after a major collection (the live set), from
  * GC notifications. The harness forces one major collection after every
  * round, outside any timed call, so each round contributes a sample. */
final class HeapWatch extends NotificationListener {
  @volatile var peakBytes = 0L
  @volatile private var armed = false
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))

  def arm(): Unit = { peakBytes = 0L; armed = true }
  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(this) catch { case _: Exception => () })

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcAction.contains("major")) {
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        if (used > peakBytes) peakBytes = used
      }
    }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile of the grid with at least ten samples beyond it. */
  val TailGrid = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
  def tailPct(n: Int): Double =
    TailGrid.find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9).getOrElse(50.0)
}
