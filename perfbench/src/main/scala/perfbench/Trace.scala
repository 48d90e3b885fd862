package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval. `parent` is -1 for the run's root span; `op` is
  * the operation (day, query or micro-batch) the span belongs to. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Spans are recorded only while `on` is set; the
 * timed body runs either way, so an untraced operation pays nothing but a
 * flag test. Spans are kept in memory and written out once, at run end.
 */
final class Tracer {
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  /** Id of the run's root span, which `write` records. */
  val rootId: Int = 0

  def span[A](name: String, op: String)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(rootId)
      stack.push(id)
      val s = System.nanoTime()
      try body
      finally {
        stack.pop()
        val e = System.nanoTime()
        synchronized { spans += Span(id, parent, op, name, s, e) }
      }
    }

  /** Records an interval measured elsewhere (streaming progress phases). */
  def add(name: String, op: String, parent: Int, startNs: Long,
          endNs: Long): Int = synchronized {
    nextId += 1
    spans += Span(nextId, parent, op, name, startNs, endNs)
    nextId
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Total seconds per span name. */
  def totals: Map[String, Double] =
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }

  /** Self seconds per span name: each span's duration minus the part of
    * its interval covered by its children. */
  def selfTimes: Map[String, Double] = {
    val spansNow = all
    val kids = spansNow.groupBy(_.parent)
    spansNow.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: String, runStartNs: Long): Unit = {
    synchronized { spans += Span(rootId, -1, "run", "run", runStartNs, System.nanoTime()) }
    val rows = all.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_s" -> (s.startNs - runStartNs) / 1e9,
        "end_s" -> (s.endNs - runStartNs) / 1e9)
    }
    val doc = Map("spans" -> rows, "self_s" -> selfTimes, "total_s" -> totals)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json.render(doc))
  }
}

/** Task-level counters summed per Spark job group. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var rowsRead = 0L
  var rowsWritten = 0L

  def +=(o: GroupCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; bytesRead += o.bytesRead
    rowsRead += o.rowsRead; rowsWritten += o.rowsWritten
  }
}

/**
 * Attributes Spark work to the job group the harness set around each call
 * (`b:` build, `p:` plan, `x:` execute, `s:` sink, followed by the
 * operation id). Jobs started by a streaming query carry the query's own
 * group and are counted under "stream". Counts only while `active`.
 */
final class LayerListener extends SparkListener {
  @volatile var active = false
  private val byGroup = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.contains(':')).getOrElse("stream")

  private def acc(g: String): GroupCounters =
    byGroup.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (active) synchronized { acc(groupOf(e.properties)).jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (active) synchronized {
      val g = groupOf(e.properties)
      stageGroup(e.stageInfo.stageId) = g
      acc(g).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (active) synchronized {
      val g = stageGroup.getOrElse(e.stageId, "stream")
      val c = acc(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.bytesRead += m.inputMetrics.bytesRead
        c.rowsRead += m.inputMetrics.recordsRead
        c.rowsWritten += m.outputMetrics.recordsWritten
      }
    }

  /** Counters per group since the last call; clears them. */
  def take(): Map[String, GroupCounters] = synchronized {
    val out = byGroup.toMap
    byGroup.clear()
    out
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Forces a full collection and returns (heap in use after it in MB,
    * seconds the forced collection took). */
  def heapAfterGc(): (Double, Double) = {
    val t0 = System.nanoTime()
    System.gc()
    val dt = (System.nanoTime() - t0) / 1e9
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (used / 1048576.0, dt)
  }

  /** Seconds from JVM launch to now. */
  def sinceLaunchSeconds: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
