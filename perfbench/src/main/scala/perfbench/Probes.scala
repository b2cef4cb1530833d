package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

/** Heap in use right after each GC (sum of the heap pools' post-GC
  * usage from the collector notifications), plus GC count and time
  * from the collector beans. */
final class HeapProbe {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)
  private val count = new AtomicLong(0L)
  private val listener: NotificationListener = (n: Notification, _: Any) => {
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(after, math.max)
      count.incrementAndGet()
    }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null); e
  }

  def peakMb: Double = peak.get / 1048576.0
  /** Forgets the peak so far (after one-off work that is not measured). */
  def resetPeak(): Unit = peak.set(0L)
  def events: Long = count.get

  /** (collections, collection ms) summed over all collectors. */
  def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionCount)).sum,
      beans.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}

/** One traced interval, in epoch milliseconds; parent 0 is the root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double)

/** Spans kept in memory and written out as JSON lines at exit; with
  * tracing off nothing is recorded. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def nowMs: Double = System.currentTimeMillis().toDouble +
    (System.nanoTime() % 1000000L) / 1e6

  def record(name: String, layer: String, startMs: Double, endMs: Double,
      parent: Long = -1L): Long = {
    if (!enabled) return 0L
    val id = ids.incrementAndGet()
    buf.add(Span(id, if (parent < 0) current.get else parent, name, layer, startMs, endMs))
    id
  }

  /** Times `body` as a span; children opened on this thread nest in it. */
  def apply[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = current.get
    val st = nowMs
    current.set(id)
    try body
    finally {
      current.set(parent)
      buf.add(Span(id, parent, name, layer, st, nowMs))
    }
  }

  def all: Seq[Span] = buf.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startMs).map { s =>
      Json.render(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-key Spark work from the scheduler's listener bus. Jobs are keyed
  * by their job group (one group per query sample) or, for streaming
  * jobs, by micro-batch id. */
final class WorkListener extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val runMs = new AtomicLong; val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
    def toJson: Json.Obj = Json.obj("jobs" -> jobs.get, "stages" -> stages.get,
      "tasks" -> tasks.get, "task_run_ms" -> runMs.get,
      "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get)
  }
  val byKey = new ConcurrentHashMap[String, Acc]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Long)]()
  /** Task run time summed over every task that ended, for busy share. */
  val allTaskRunMs = new AtomicLong
  /** (key, start ms, end ms) of every keyed job that ended. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def acc(k: String) = byKey.computeIfAbsent(k, _ => new Acc)

  private def keyOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      // a streaming query runs its batches under a job group of its own,
      // so the batch id is looked at first
      Option(p.getProperty("streaming.sql.batchId"))
        .map(b => s"batch:${p.getProperty("sql.streaming.queryId")}:$b")
        .orElse(Option(p.getProperty("spark.jobGroup.id")))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    keyOf(e.properties).foreach { k =>
      acc(k).jobs.incrementAndGet()
      jobKey.put(e.jobId, (k, e.time))
      e.stageInfos.foreach(s => stageKey.put(s.stageId, k))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.remove(e.jobId)).foreach { case (k, st) => jobs.add((k, st, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach(k => acc(k).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val run = if (m == null) 0L else m.executorRunTime
    allTaskRunMs.addAndGet(run)
    Option(stageKey.get(e.stageId)).foreach { k =>
      val a = acc(k)
      a.tasks.incrementAndGet()
      a.runMs.addAndGet(run)
      if (m != null) {
        a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}
