package crawlbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import Stats.Iv

/** A named interval (ns, System.nanoTime) and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, iv: Iv)

/** In-memory span log, written out once when the run ends. */
final class SpanLog {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def add(parent: Int, name: String, iv: Iv): Int = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, iv))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.iv.start, s.id))

  /** One line per span: id, parent, name, start and end (ms from the first
    * span) and self time (ms not covered by the span's children). */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val t0 = if (ss.isEmpty) 0L else ss.map(_.iv.start).min
    val kids = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      val self = Stats.selfTime(s.iv, kids.getOrElse(s.id, Nil).map(_.iv))
      f"${s.id}\t${s.parent}\t${s.name}\t${(s.iv.start - t0) / 1e6}%.3f\t" +
        f"${(s.iv.end - t0) / 1e6}%.3f\t${self / 1e6}%.3f"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      ("id\tparent\tname\tstart_ms\tend_ms\tself_ms" +: lines).asJava)
  }
}

/** Converts a wall-clock millisecond timestamp to the nanoTime base. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def ns(epochMs: Long): Long = ns0 + (epochMs - ms0) * 1000000L
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/**
 * GC watcher: every collection's interval and the heap still in use right
 * after it, from the JVM's own GC notifications.
 */
final class GcWatch extends AutoCloseable {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val events = new ConcurrentLinkedQueue[(Iv, Long)]()
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val gc = info.getGcInfo
        val after = gc.getMemoryUsageAfterGc.asScala.collect {
          case (pool, use) if heapPools(pool) => use.getUsed
        }.sum
        val s = Clock.ns(Clock.jvmStartMs + gc.getStartTime)
        events.add((Iv(s, math.max(s, Clock.ns(Clock.jvmStartMs + gc.getEndTime))), after))
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null); e
  }

  def pauses: Seq[Iv] = events.asScala.map(_._1).toSeq
  /** Largest heap in use right after a collection that began inside
    * `window` (bytes); over the whole run when none did. */
  def afterGcInside(window: Iv): Long = {
    val all = events.asScala.toSeq
    val in = all.filter(e => e._1.start >= window.start && e._1.start < window.end)
    (if (in.nonEmpty) in else all).map(_._2).foldLeft(0L)(math.max)
  }
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

/**
 * Spark listener recording jobs, stages and task metrics with their times,
 * for attribution to the steps that contain them.
 */
final class JobListener extends SparkListener {
  import JobListener._
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val jobQ = new ConcurrentLinkedQueue[Job]()
  private val stageQ = new ConcurrentLinkedQueue[Stage]()
  private val taskQ = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (Clock.ns(e.time),
      Option(e.properties).map(_.getProperty(MarkerKey)).orNull))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (s, marker) =>
      jobQ.add(Job(e.jobId, Iv(s, math.max(s, Clock.ns(e.time))), Option(marker)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageQ.add(Stage(i.stageId, Iv(Clock.ns(s), math.max(Clock.ns(s), Clock.ns(c))), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskQ.add(Task(e.stageId, Clock.ns(e.taskInfo.finishTime),
      m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled + m.memoryBytesSpilled))
  }

  def jobs: Seq[Job] = jobQ.asScala.toSeq.filter(_.marker.isEmpty)
  def stages: Seq[Stage] = stageQ.asScala.toSeq
  def tasks: Seq[Task] = taskQ.asScala.toSeq

  /** Block until every event posted before this call has been delivered:
    * runs a one-task marker job and waits for the listener to see it end. */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!jobQ.asScala.exists(_.marker.contains(token)) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

object JobListener {
  val MarkerKey = "crawlbench.marker"
  final case class Job(id: Int, iv: Iv, marker: Option[String])
  final case class Stage(id: Int, iv: Iv, numTasks: Int)
  final case class Task(stageId: Int, endNs: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
}
