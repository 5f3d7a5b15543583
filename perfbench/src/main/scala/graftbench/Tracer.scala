package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side spans plus, when tracing is on, a SparkListener that
  * attributes every job to the span it ran under.
  *
  * A span records its name, parent, operation id and start/end time and
  * stays in memory until [[dump]]. With tracing on, each span sets a job
  * group on the driver thread; a job that carries another group (a
  * streaming micro-batch runs on the stream's own thread) belongs to the
  * deepest span that was open when it started. Untraced runs keep the
  * spans (the workloads read their timings) but set no job group and
  * register no listener.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val tasks = mutable.Map[Int, mutable.ArrayBuffer[Task]]()
  private var rddBlockPuts = 0L
  private var listenerNanos = 0L

  if (enabled) sc.addSparkListener(this)

  def span[T](name: String, op: String = "")(body: => T): T = {
    val parent = open.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      op, System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    if (enabled) sc.setJobGroup(groupPrefix + s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (enabled) parent match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** The spans recorded so far with the given name, in start order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally listenerNanos += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val spanId =
      if (group != null && group.startsWith(groupPrefix)) group.drop(groupPrefix.length).toInt
      else -1
    jobs(e.jobId) = new Job(e.jobId, spanId, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    val m = e.taskMetrics
    val t =
      if (m == null) Task(e.taskInfo.duration, failed = !e.taskInfo.successful,
        0L, 0L, 0L, 0L, 0L)
      else Task(
        e.taskInfo.duration,
        failed = !e.taskInfo.successful,
        inputBytes = m.inputMetrics.bytesRead,
        inputRecords = m.inputMetrics.recordsRead,
        shuffleReadRecords = m.shuffleReadMetrics.recordsRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled)
    tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Task]()) += t
  })

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed(synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) rddBlockPuts += 1
  })

  /** Delivers every queued listener event, then resolves jobs that
    * arrived without a span group to the deepest span open at their
    * start. Call before reading [[stats]].
    */
  def settle(): Unit = if (enabled) {
    org.apache.spark.graftbench.ListenerBusDrain(sc)
    synchronized {
      jobs.values.filter(_.spanId < 0).foreach { j =>
        val covering = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        if (covering.nonEmpty) j.spanId = covering.maxBy(depth).id
      }
    }
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Ids of `roots` and every span beneath them. */
  private def subtree(roots: Seq[Span]): Set[Int] = {
    val ids = mutable.Set[Int]() ++= roots.map(_.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  /** Spark work done under `roots` (and their children). */
  def stats(roots: Seq[Span]): Stats = synchronized {
    val ids = subtree(roots)
    val js = jobs.values.filter(j => ids.contains(j.spanId)).toSeq
    val stageTasks = js.flatMap(_.stageIds).distinct.flatMap(s => tasks.get(s).map(s -> _.toSeq))
    val ts = stageTasks.flatMap(_._2)
    val heaviest = if (stageTasks.isEmpty) Nil else stageTasks.maxBy(_._2.map(_.durationMs).sum)._2
    val skew = {
      val d = heaviest.map(_.durationMs.toDouble)
      val med = Percentile(d, 50)
      if (d.isEmpty || med <= 0) 1.0 else d.max / med
    }
    val wallMs = roots.map(s => (s.endNs - s.startNs) / 1e6).sum
    val jobMs = roots.map { r =>
      unionMs(js.filter(j => j.endMs >= 0).map(j =>
        (math.max(j.startMs, r.startMs), math.min(j.endMs, r.endMs))))
    }.sum
    Stats(
      jobs = js.size,
      tasks = ts.size,
      emptyTasks = ts.count(t => t.inputRecords == 0 && t.shuffleReadRecords == 0),
      taskFailures = ts.count(_.failed),
      inputBytes = ts.map(_.inputBytes).sum,
      inputRecords = ts.map(_.inputRecords).sum,
      shuffleBytes = ts.map(_.shuffleWriteBytes).sum,
      spillBytes = ts.map(_.spillBytes).sum,
      taskSkew = skew,
      wallMs = wallMs,
      driverGapMs = math.max(0.0, wallMs - jobMs))
  }

  def rddBlocksStored: Long = synchronized(rddBlockPuts)

  def listenerMs: Double = synchronized(listenerNanos / 1e6)

  /** Every span as one JSON object per line, with its self time (its
    * duration minus the time its children cover).
    */
  def dump(path: java.nio.file.Path, run: String): Unit = {
    val lines = spans.map { s =>
      val kids = spans.filter(_.parent == s.id)
      val childMs = unionMs(kids.map(k => (k.startMs, k.endMs)).toSeq)
      val durMs = (s.endNs - s.startNs) / 1e6
      f"""{"run": "$run", "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": "${s.op}", """ +
        f""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "duration_ms": $durMs%.3f, """ +
        f""""self_ms": ${math.max(0.0, durMs - childMs)}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  private val groupPrefix = "graftbench-span-"

  final class Span(val id: Int, val name: String, val parent: Int, val op: String,
      val startMs: Long, val startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = startNs
    def ms: Double = (endNs - startNs) / 1e6
  }

  final class Job(val id: Int, var spanId: Int, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }

  final case class Task(durationMs: Long, failed: Boolean, inputBytes: Long,
      inputRecords: Long, shuffleReadRecords: Long, shuffleWriteBytes: Long,
      spillBytes: Long)

  final case class Stats(jobs: Int, tasks: Int, emptyTasks: Int, taskFailures: Int,
      inputBytes: Long, inputRecords: Long, shuffleBytes: Long, spillBytes: Long,
      taskSkew: Double, wallMs: Double, driverGapMs: Double)

  /** Length of the union of closed intervals, in the intervals' unit. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total.toDouble
  }
}

/** Linear-interpolation percentile (numpy's default). */
object Percentile {
  def apply(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The highest whole percentile that leaves at least ten of `n` samples
  * beyond it (p50 when there are fewer than twenty samples).
  */
object TailPercentile {
  def apply(n: Int): Int = if (n < 20) 50 else math.floor(100.0 * (n - 10) / n).toInt
}
