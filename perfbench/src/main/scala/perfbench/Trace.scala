package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter,
  NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark engine counters, fed by a listener the benchmark
  * registers. Spans read them at their boundaries and keep the difference.
  * Task run times are kept one per task so a span can find its slowest. */
final class EngineCounters extends SparkListener {
  private val lock = new Object
  private var jobs, stages, tasks, failedTasks = 0L
  private var busyMs, cpuNs, waitMs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private val taskRunMs = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    lock.synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      busyMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      // scheduler delay as the Spark UI derives it, plus shuffle fetch wait
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      waitMs += math.max(0L, delay) + m.shuffleReadMetrics.fetchWaitTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      taskRunMs += m.executorRunTime
    }
  }

  /** (counter values, index of the next task) at this instant. */
  def snapshot(): (Map[String, Double], Int) = lock.synchronized {
    (Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.failed_tasks" -> failedTasks.toDouble,
      "spark.task_busy_s" -> busyMs / 1e3,
      "spark.task_cpu_s" -> cpuNs / 1e9,
      "spark.wait_s" -> waitMs / 1e3,
      "spark.shuffle_write_mb" -> shuffleWrite / 1048576.0,
      "spark.shuffle_read_mb" -> shuffleRead / 1048576.0,
      "spark.spill_mb" -> spill / 1048576.0), taskRunMs.length)
  }

  def maxTaskS(from: Int, until: Int): Double = lock.synchronized {
    if (until <= from) 0.0 else taskRunMs.slice(from, until).max / 1e3
  }
}

/** Per-trigger timings of every streaming query in the session. */
final class TriggerLog extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs.asScala.map { case (k, v) =>
      k -> v.longValue }.toMap
    if (e.progress.numInputRows > 0) progress += d
  }
  def since(i: Int): Seq[Map[String, Long]] = synchronized {
    progress.drop(i).toSeq }
  def size: Int = synchronized { progress.length }
}

/** JVM memory and GC time, from the MXBeans. */
object Heap {
  private var retainedBytes = 0L
  /** Heap in use right after each collection, in order, once `watch` has
    * registered for the collectors' notifications. */
  private val afterGc = ArrayBuffer.empty[Long]
  private var watching = false

  /** Forces full collections until the heap in use stops shrinking, and
    * records it; called after the timed units, never inside one. Spark
    * frees unpersisted caches and unreachable checkpoints asynchronously
    * after a collection, so one collection alone reads a racy value. What
    * this reads is the heap the JVM keeps after the units (session, JIT,
    * persisted data), not the most a unit holds while it runs. */
  def sample(): Unit = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var i = 0
    var settled = false
    while (!settled && i < 10) {
      Thread.sleep(100)
      val now = used()
      settled = now > last - (2L << 20)
      last = math.min(last, now)
      i += 1
    }
    synchronized { retainedBytes = math.max(retainedBytes, last) }
  }

  def retainedMb: Double = synchronized { retainedBytes / 1048576.0 }

  /** Registers for every collector's notifications; each one records the
    * heap in use after that collection. Traced runs only. */
  def watch(): Unit = synchronized {
    if (!watching) {
      watching = true
      val listener = new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData]).getGcInfo
            val used = info.getMemoryUsageAfterGc.asScala.values
              .map(_.getUsed).sum
            Heap.synchronized { afterGc += used }
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter =>
          e.addNotificationListener(listener, null, null)
        case _ =>
      }
    }
  }

  /** Index of the next collection to be recorded. */
  def gcCount: Int = synchronized { afterGc.length }

  /** Largest heap in use right after a collection among those recorded
    * from index `from` to `until`; 0 when there was none. */
  def peakAfterGcMb(from: Int, until: Int): Double = synchronized {
    if (until <= from) 0.0 else afterGc.slice(from, until).max / 1048576.0
  }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** One timed call into a layer. `parent` is -1 for a root; spans of one
  * request or trigger share `req`. Counters are the engine and GC deltas
  * over the span. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    req: String, startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer. When `on` is false
  * `span` runs its body and records nothing, and no listener is
  * registered, so untraced runs measure the engine alone. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val engine = new EngineCounters
  val triggers = new TriggerLog
  if (on) {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(triggers)
    Heap.watch()
  }
  private val spansBuf = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  def drain(): Unit = if (on) BenchBus.drain(spark.sparkContext)

  def counters(): (Map[String, Double], Int) = {
    drain()
    val (c, i) = engine.snapshot()
    (c + ("jvm.gc_s" -> Heap.gcSeconds), i)
  }

  def span[T](name: String, layer: String, req: String = "")(body: => T)
      : T = {
    if (!on) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(-1)
    val (c0, i0) = counters()
    val g0 = Heap.gcCount
    stack.set(id :: stack.get)
    val t0 = System.nanoTime
    try body
    finally {
      val t1 = System.nanoTime
      stack.set(stack.get.tail)
      val (c1, i1) = counters()
      val delta = c1.map { case (k, v) => k -> (v - c0(k)) } +
        ("spark.max_task_s" -> engine.maxTaskS(i0, i1)) +
        ("jvm.heap_after_gc_peak_mb" ->
          Heap.peakAfterGcMb(g0, Heap.gcCount))
      synchronized {
        spansBuf += Span(id, parent, name, layer, req, t0, t1, delta)
      }
    }
  }

  def spans: Seq[Span] = synchronized { spansBuf.toSeq }

  /** The most recent span with this name. */
  def last(name: String): Span = spans.filter(_.name == name).last
}
