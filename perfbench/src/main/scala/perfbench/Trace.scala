package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Spans recorded around the benchmark's calls into the program. They stay
  * in memory and are written as JSON when the run ends. Spans nest per
  * thread; a span's self time is its duration minus the part of it its
  * children cover.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
      startMs: Long, endMs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1, ms0, ms1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Intervals.covered(kids, s.startNs, s.endNs)) / 1e9
  }

  def toJson: String = all.sortBy(_.startNs).map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
      f""""end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Intervals {
  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters: jobs, tasks, executor CPU and GC time, spill, shuffle
  * writes, and the wall-clock intervals in which tasks ran.
  */
final class Counters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var spillBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  private val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts += e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  final case class Snap(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long, spill: Long,
      shuffleWrite: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
      gcMs - o.gcMs, spill - o.spill, shuffleWrite - o.shuffleWrite)
  }

  def snap(): Snap = synchronized(Snap(jobs, tasks, cpuNs, gcMs, spillBytes, shuffleWriteBytes))

  /** Jobs started inside any of the given [startMs, endMs) windows. */
  def jobsWithin(windows: Seq[(Long, Long)]): Int = synchronized {
    jobStarts.count(t => windows.exists { case (lo, hi) => t >= lo && t < hi })
  }

  /** Milliseconds of [loMs, hiMs] in which no task was running. */
  def idleMs(loMs: Long, hiMs: Long): Long =
    (hiMs - loMs) - synchronized(Intervals.covered(taskIntervals.toList, loMs, hiMs))
}

/** Hadoop FileSystem byte counters of the local (`file`) scheme. */
object FsStats {
  import scala.jdk.CollectionConverters._
  private def all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file")
  def bytesRead: Long = all.map(_.getBytesRead).sum
  def bytesWritten: Long = all.map(_.getBytesWritten).sum
}
