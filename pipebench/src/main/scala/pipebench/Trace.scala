package pipebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Wraps the calls into one layer in a span; tracing off is `Spans.Off`. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object Spans {
  val Off: Spans = new Spans {
    def apply[T](name: String)(body: => T): T = body
  }
}

/** Spans kept in memory and written out when the run ends: name, start,
  * end (ns since the recorder was made), the enclosing span, and the op.
  */
final class SpanRecorder extends Spans {
  import SpanRecorder.Span

  private val origin = System.nanoTime()
  private val open = mutable.Stack.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]
  var op: Long = -1

  def apply[T](name: String)(body: => T): T = {
    val parent = open.headOption
    open.push(name)
    val t0 = System.nanoTime() - origin
    try body
    finally {
      spans += Span(op, name, parent, t0, System.nanoTime() - origin)
      open.pop()
    }
  }

  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val parent = s.parent.fold("null")(p => "\"" + p + "\"")
    s"""{"op":${s.op},"name":"${s.name}","parent":$parent,"start_ns":${s.start},"end_ns":${s.end}}"""
  }
}

object SpanRecorder {
  final case class Span(op: Long, name: String, parent: Option[String], start: Long, end: Long)
}

/** Spark's own view of the traced ops: jobs, tasks, task time, the
  * longest task and shuffle bytes, per tag. The driver thread tags its
  * jobs with the `pipebench.span` local property; micro-batch jobs are
  * tagged by the engine with their batch id.
  */
final class JobStats extends SparkListener {
  final class Tally {
    var jobs = 0
    var tasks = 0
    var taskMs = 0L
    var maxTaskMs = 0L
    var shuffleBytes = 0L
  }

  private val stageTag = new ConcurrentHashMap[Int, String]
  private val tallies = new ConcurrentHashMap[String, Tally]
  @volatile private var flushed = new CountDownLatch(1)
  @volatile private var flushJobId = -1

  private def tagOf(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(JobStats.Tag))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _)))
      .getOrElse("other")

  private def tally(tag: String): Tally = tallies.computeIfAbsent(tag, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    if (tag == JobStats.Flush) flushJobId = e.jobId
    e.stageIds.foreach(stageTag.put(_, tag))
    val t = tally(tag)
    t.synchronized(t.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = tally(Option(stageTag.get(e.stageId)).getOrElse("other"))
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      t.maxTaskMs = math.max(t.maxTaskMs, e.taskInfo.duration)
      if (m != null) {
        t.taskMs += m.executorRunTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == flushJobId) flushed.countDown()

  /** Blocks until the listener has seen every event posted before
    * `flushJob`, a job tagged [[JobStats.Flush]], ended.
    */
  def flush(flushJob: () => Unit): Unit = {
    flushed = new CountDownLatch(1)
    flushJob()
    flushed.await(30, TimeUnit.SECONDS)
  }

  def get(tag: String): Option[Tally] = Option(tallies.get(tag))
}

object JobStats {
  val Tag = "pipebench.span"
  val Flush = "flush"
}

/** JVM-wide memory and GC readings (driver and executors share the JVM
  * in local mode).
  */
object Jvm {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      p.getName.contains("Old"))

  private var peak = 0L

  /** Collects, then records old-generation usage after collection; the
    * peak also covers collections that happened inside ops.
    */
  def sampleLiveHeap(): Unit = {
    System.gc()
    oldGen.foreach(p => peak = math.max(peak, p.getCollectionUsage.getUsed))
  }

  def liveHeapPeakMb: Double = peak / (1024.0 * 1024.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}
