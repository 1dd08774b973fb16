package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed interval of the benchmark's own code, around a call into a
  * layer. Times are seconds since the run's clock origin. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, query: String)

/** In-memory span recorder; written once at exit. `parent` is the id of
  * the innermost open span (-1 at top level). */
final class Spans(origin: Long) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Double, String)]
  private var next = 0

  def now: Double = (System.nanoTime() - origin) / 1e9

  def apply[A](name: String, query: String = "")(body: => A): A = {
    val id = next
    next += 1
    val parent = if (open.isEmpty) -1 else open.top._1
    open.push((id, name, now, query))
    try body
    finally {
      val (_, n, t0, q) = open.pop()
      done += Span(id, n, t0, now, parent, q)
    }
  }

  def all: Seq[Span] = done.sortBy(_.id).toSeq
}

/** Per-(operation, phase) totals of the jobs, stages and tasks that ran
  * under one job group. */
final class PhaseTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskDurS = 0.0
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var inputBytes = 0L
  var spillBytes = 0L
  var shWriteBytes = 0L
  var shReadBytes = 0L
  var shRecords = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // task (launch, finish) ms
}

/** The benchmark's own SparkListener. A job counts toward an operation
  * only when the benchmark tagged it: job group `<query>/<phase>` and
  * job description `op:<key>`, set by [[Harness]] around each call.
  * Untagged jobs (untraced passes, set-up) are ignored. RDD block sizes
  * are tracked for every block to give the storage peak. */
final class LayerListener extends SparkListener {
  val byKey = mutable.HashMap.empty[(String, String), PhaseTotals]
  private val stageKey = mutable.HashMap.empty[Int, (String, String)]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  var peakBlockBytes = 0L

  private def keyOf(props: java.util.Properties): Option[(String, String)] =
    Option(props).flatMap { p =>
      val group = p.getProperty("spark.jobGroup.id")
      val desc = p.getProperty("spark.job.description")
      if (group == null || desc == null || !desc.startsWith("op:")) None
      else Some((desc.stripPrefix("op:"), group.substring(group.lastIndexOf('/') + 1)))
    }

  private def totals(k: (String, String)): PhaseTotals =
    byKey.getOrElseUpdate(k, new PhaseTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      totals(k).jobs += 1
      e.stageIds.foreach(stageKey(_) = k)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      keyOf(e.properties).orElse(stageKey.get(e.stageInfo.stageId))
        .foreach { k =>
          stageKey(e.stageInfo.stageId) = k
          totals(k).stages += 1
        }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val t = totals(k)
      t.tasks += 1
      val info = e.taskInfo
      t.taskDurS += (info.finishTime - info.launchTime) / 1e3
      t.intervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        t.runS += m.executorRunTime / 1e3
        t.cpuS += m.executorCpuTime / 1e9
        t.gcS += m.jvmGCTime / 1e3
        t.inputBytes += m.inputMetrics.bytesRead
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shRecords += m.shuffleWriteMetrics.recordsWritten
        t.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        blockBytes -= blocks.getOrElse(id, 0L)
        if (info.storageLevel.isValid) {
          val size = info.memSize + info.diskSize
          blocks(id) = size
          blockBytes += size
        } else blocks.remove(id)
        peakBlockBytes = math.max(peakBlockBytes, blockBytes)
      }
    }
}

object LayerListener {
  /** Total length of the union of intervals, each clipped to
    * [lo, hi] (all in ms). */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }
}
