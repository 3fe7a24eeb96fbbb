package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed region of the benchmark. Times are taken twice: `t0`/`t1`
  * from the monotonic clock for durations, `w0`/`w1` from the wall clock
  * so Spark listener events (stamped in epoch ms) can be placed inside. */
final class Span(val id: Int, val name: String, val parent: Int) {
  val t0: Long = System.nanoTime()
  val w0: Long = System.currentTimeMillis()
  var t1: Long = t0
  var w1: Long = w0
  def seconds: Double = (t1 - t0) / 1e9
}

/** Span tree recorder. Spans are always recorded (they are how the
  * benchmark times its calls); when `jobGroups` is on, every Spark job
  * started inside a span carries that span's id as its job group, which
  * is how [[SparkTrace]] attributes stages to spans. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var jobGroups = false

  def span[A](name: String)(f: => A): A = timed(name)(f)._1

  /** As [[span]], also returning the finished span. */
  def timed[A](name: String)(f: => A): (A, Span) = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1))
    spans += s
    stack = s :: stack
    val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
    if (jobGroups) sc.setLocalProperty(Tracer.GroupKey, Tracer.groupOf(s.id))
    try (f, s)
    finally {
      s.t1 = System.nanoTime()
      s.w1 = System.currentTimeMillis()
      stack = stack.tail
      if (jobGroups) sc.setLocalProperty(Tracer.GroupKey, prevGroup)
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** A span's duration minus the time covered by its child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s.id).map(_.seconds).sum

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)

  /** Self time summed per span name over the spans in `roots`' subtrees. */
  def selfByName(roots: Seq[Span]): Map[String, Double] =
    roots.flatMap(subtree).groupBy(_.name).map { case (k, ss) =>
      k -> ss.map(selfSeconds).sum
    }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  private val Prefix = "graftbench-span-"
  def groupOf(id: Int): String = Prefix + id
}

/** Per-span Spark totals (one per job group). */
final class SparkAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs; deserMs += o.deserMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteNs += o.shuffleWriteNs
    shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** Benchmark-side listener: sums stage task metrics per job group. */
final class SparkTrace extends SparkListener {
  private val byGroup = scala.collection.mutable.HashMap.empty[String, SparkAgg]
  private val stageGroup = scala.collection.mutable.HashMap.empty[Int, String]
  private val jobGroup = scala.collection.mutable.HashMap.empty[Int, (String, Long)]
  private var started = 0L
  private var ended = 0L
  private var lastEventNs = System.nanoTime()

  private def agg(g: String): SparkAgg = byGroup.getOrElseUpdate(g, new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobGroup(e.jobId) = (g, e.time)
    agg(g).jobs += 1
    started += 1
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      agg(g).jobIntervals += ((t0, e.time))
    }
    ended += 1
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = agg(stageGroup.getOrElse(si.stageId, ""))
    val tm = si.taskMetrics
    a.stages += 1
    a.tasks += si.numTasks
    if (tm != null) {
      a.taskMs += tm.executorRunTime
      a.gcMs += tm.jvmGCTime
      a.deserMs += tm.executorDeserializeTime
      a.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteNs += tm.shuffleWriteMetrics.writeTime
      a.shuffleReadBytes += tm.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += tm.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
    }
    lastEventNs = System.nanoTime()
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the bus has been quiet for a moment (bounded). */
  def drain(maxWaitMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    def settled = synchronized {
      started == ended && System.nanoTime() - lastEventNs > 300L * 1000000L
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Totals over the job groups of the given spans. */
  def totals(spans: Seq[Span]): SparkAgg = synchronized {
    val out = new SparkAgg
    spans.foreach(s => byGroup.get(Tracer.groupOf(s.id)).foreach(out.add))
    out
  }
}

object SparkTrace {
  /** Wall time of `[w0, w1]` (ms) not covered by any of `intervals`. */
  def uncoveredMs(w0: Long, w1: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cur = w0
    intervals.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    math.max(0L, (w1 - w0) - covered)
  }
}
