package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task attempt, kept only while tracing. */
final case class TaskRec(stage: Int, index: Int, attempt: Int, launchMs: Long,
                         finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long)

/** Spark task metrics summed over every task of one job group. */
final class GroupStats {
  var attempts = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  val distinct = scala.collection.mutable.HashSet.empty[(Int, Int)]
  val tasks = ArrayBuffer.empty[TaskRec]

  def add(e: SparkListenerTaskEnd, keep: Boolean): Unit = synchronized {
    attempts += 1
    distinct += ((e.stageId, e.taskInfo.index))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      outputBytes += m.outputMetrics.bytesWritten
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
    }
    if (keep) {
      val i = e.taskInfo
      tasks += TaskRec(e.stageId, i.index, i.attemptNumber, i.launchTime,
        i.finishTime, if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime, if (m == null) 0L else m.jvmGCTime)
    }
  }
}

/** A named interval of the benchmark's own timeline; `parent` is the span
  * that caused it ("" for a root). Kept in memory, written out at the end.
  */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records Spark task metrics keyed by the job group the benchmark sets on
  * the Spark driver's thread before each action, plus the benchmark's own spans.
  * With `traced` on, every task attempt is also kept for distributions.
  */
final class Recorder extends SparkListener {
  @volatile var traced = false
  private val GroupKey = "perfbench.group"
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  val spans = ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (g != null) e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null) groups.computeIfAbsent(g, _ => new GroupStats).add(e, traced)
  }

  /** Attach to a fresh session; stage ids restart with each SparkContext. */
  def attach(spark: SparkSession): Unit = {
    stageGroup.clear()
    spark.sparkContext.addSparkListener(this)
  }

  def stats(group: String): GroupStats = groups.computeIfAbsent(group, _ => new GroupStats)

  /** Run `body` as job group `group` under span `parent`; returns its result
    * and the span, after the listener bus has delivered the group's tasks.
    */
  def run[A](spark: SparkSession, group: String, parent: String)(body: => A): (A, Span) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(GroupKey, group)
    val t0 = System.nanoTime()
    try {
      val a = body
      val span = Span(group, parent, t0, System.nanoTime())
      synchronized(spans += span)
      (a, span)
    } finally {
      sc.setLocalProperty(GroupKey, null)
      org.apache.spark.perfbench.Bus.drain(sc)
    }
  }

  /** A span around work on the Spark driver that runs no Spark job. */
  def span[A](name: String, parent: String)(body: => A): (A, Span) = {
    val t0 = System.nanoTime()
    val a = body
    val s = Span(name, parent, t0, System.nanoTime())
    synchronized(spans += s)
    (a, s)
  }
}

/** Highest old-generation occupancy reported after any collection between
  * `arm` and `disarm`, from the JVM's GC notifications.
  */
final class GcWatch extends NotificationListener {
  @volatile private var armed = false
  @volatile private var maxOld = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ =>
  }

  def arm(): Unit = synchronized { maxOld = 0L; armed = true }

  /** Stop watching; the highest occupancy seen, in MB. */
  def disarm(): Double = synchronized { armed = false; maxOld / (1024.0 * 1024.0) }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if pool.contains("Old") || pool.contains("Tenured") => u.getUsed
      }.sum
      synchronized { if (armed && old > maxOld) maxOld = old }
    }
}
