package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into the engine: name,
  * start, end, parent, and the op id every span of one op shares. Kept in
  * memory and written out when the run ends. Disabled, a span only runs
  * its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1L

  /** Tag every span opened until the next call with op id `id` (-1 = set-up). */
  def beginOp(id: Long): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self seconds per span-name prefix before the first '.', over spans
    * of timed ops (op >= 0): each span's duration minus the part of it
    * its children cover.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val timed = spans.filter(_.op >= 0)
    val childNs = timed.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    timed.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
    def layer: String = name.takeWhile(_ != '.')
  }
}

/** Spark-side counters: jobs, stages, tasks, executor time and bytes,
  * plus every task's run interval so a caller can tell how much of a
  * window had no task running. Read through [[snapshot]] after
  * [[drain]], which waits until the listener bus has delivered every
  * event of the calls made so far.
  */
final class Meter(sc: SparkContext) extends SparkListener {
  import Meter._
  private val c = Array.fill(NFields)(new AtomicLong)
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]
  // per stage: shuffle-read bytes and task run times, for the skew ratio
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
  private val stageShuffleRead = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]

  sc.addSparkListener(this)

  def drain(): Unit = org.apache.spark.BusDrain.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = c(Jobs).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(Stages).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(Tasks).incrementAndGet()
    val info = e.taskInfo
    if (info != null) intervals.add((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c(RunMs).addAndGet(m.executorRunTime)
      c(CpuNs).addAndGet(m.executorCpuTime)
      c(GcMs).addAndGet(m.jvmGCTime)
      c(InBytes).addAndGet(m.inputMetrics.bytesRead)
      c(InRecords).addAndGet(m.inputMetrics.recordsRead)
      c(ShufRead).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(ShufWrite).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(Spill).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(OutBytes).addAndGet(m.outputMetrics.bytesWritten)
      stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]).add(m.executorRunTime)
      stageShuffleRead.computeIfAbsent(e.stageId, _ => new AtomicLong)
        .addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  def snapshot(): Snap = Snap(c.map(_.get), System.currentTimeMillis())

  /** Milliseconds of [t0, t1] (epoch ms) during which some task ran. */
  def busyMs(t0: Long, t1: Long): Long = {
    val iv = intervals.asScala.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy + (curB - curA)
  }

  /** Max over median task run time of the stage that read the most shuffle
    * bytes since [[trim]] (in a build, the postings reduce).
    */
  def skew(): Double = {
    val read = stageShuffleRead.asScala
    if (read.isEmpty) return 0.0
    val (stage, _) = read.maxBy(_._2.get)
    val ts = stageTasks.get(stage).asScala.toSeq.map(_.toDouble)
    if (ts.isEmpty) 0.0 else ts.max / math.max(1.0, Stats.median(ts))
  }

  /** Forget per-task history; counters keep running. */
  def trim(): Unit = { intervals.clear(); stageTasks.clear(); stageShuffleRead.clear() }
}

object Meter {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val RunMs = 3; val CpuNs = 4; val GcMs = 5
  val InBytes = 6; val InRecords = 7; val ShufRead = 8; val ShufWrite = 9; val Spill = 10
  val OutBytes = 11
  val NFields = 12

  final case class Snap(v: Array[Long], atMs: Long) {
    def -(o: Snap): Array[Long] = v.indices.map(i => v(i) - o.v(i)).toArray
  }
}
