package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Spark task counters of one layer, summed over its tasks. */
final case class Counters(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0,
    gcMs: Long = 0, schedDelayMs: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, failedTasks: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    runMs + o.runMs, gcMs + o.gcMs, schedDelayMs + o.schedDelayMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    failedTasks + o.failedTasks)
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, gcMs - o.gcMs, schedDelayMs - o.schedDelayMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    failedTasks - o.failedTasks)
}

/** The benchmark's own listener. Jobs are attributed to a layer by the
  * job group the runner sets around each layer call, so actions fired
  * while a DataFrame is still being built count for the layer that built
  * it. Block updates of cached RDD blocks feed the peak cache size.
  */
final class Probe extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  private var cacheBytes = 0L
  private var peakBytes = 0L
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  private def add(group: String, c: Counters): Unit =
    byGroup.merge(group, c, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    add(g, Counters(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "none")
    val info = e.taskInfo
    val m = e.taskMetrics
    val failed = if (e.reason == Success) 0L else 1L
    if (info != null) intervals.synchronized { intervals += ((info.launchTime, info.finishTime)) }
    if (m == null) add(g, Counters(tasks = 1, failedTasks = failed))
    else {
      val delay = if (info == null) 0L else math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      add(g, Counters(tasks = 1, runMs = m.executorRunTime, gcMs = m.jvmGCTime,
        schedDelayMs = delay, shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled, failedTasks = failed))
    }
  }

  // Unpersisting an RDD drops its blocks without block-update events.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blockBytes.asScala.keys.filter(_.split("/", 2)(1).startsWith(prefix)).foreach { k =>
      cacheBytes -= blockBytes.remove(k)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val key = b.blockManagerId.executorId + "/" + b.blockId.name
      val old = Option(blockBytes.get(key)).getOrElse(0L)
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      if (now == 0L) blockBytes.remove(key) else blockBytes.put(key, now)
      cacheBytes += now - old
      peakBytes = math.max(peakBytes, cacheBytes)
    }
  }

  def snapshot(): Map[String, Counters] = byGroup.asScala.toMap

  def peakCacheBytes: Long = synchronized(peakBytes)

  /** Task (launch, finish) intervals in epoch ms since the last call. */
  def drainIntervals(): Seq[(Long, Long)] = intervals.synchronized {
    val out = intervals.toList
    intervals.clear()
    out
  }
}

object Probe {
  def delta(after: Map[String, Counters], before: Map[String, Counters]): Map[String, Counters] =
    after.map { case (g, c) => g -> (c - before.getOrElse(g, Counters())) }

  /** Length of the part of [lo, hi] that the intervals cover. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) { total += b - s; end = b }
      }
    total
  }
}

/** In-memory spans: name, start, end, parent and run id, written out with
  * self times when the benchmark ends.
  */
final class Tracer {
  final case class Span(id: Int, name: String, parent: Int, run: Int, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, run: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, run, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val children = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(file)
    try spans.sortBy(_.id).foreach { s =>
      val dur = (s.endNs - s.startNs) / 1e9
      val kids = children.getOrElse(s.id, Nil).map(k => (k.endNs - k.startNs) / 1e9).sum
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
        s""""start_s":${s.startNs / 1e9},"end_s":${s.endNs / 1e9},"dur_s":$dur,"self_s":${dur - kids}}""")
    } finally w.close()
  }
}
