package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.index.IndexBuilder
import graft.query.BlockMaxWand

/** One benchmark run: the session, the seed, the measuring windows and
  * what they record.
  */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val work: String) {

  val cores: Int = spark.sparkContext.defaultParallelism
  val buildCfg = IndexBuilder.BuildConfig(nPartitions = cores, nGroups = 1, nSlices = cores)
  val setupSecs = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Self-describing facts about inputs and results, printed with the metrics. */
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  def dir(name: String): String = s"$work/$name"

  /** Times one set-up; the run reports the median over set-ups. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupSecs += (System.nanoTime() - t0) / 1e9
    r
  }
}

/** One measuring window: a closed loop of ops, run by one client until
  * `seconds` have passed (the op in flight completes). Traced, it also
  * records spans, Spark counters and engine counters per op kind.
  */
final class Window(val run: Run, val traced: Boolean) {
  val tracer = new Tracer(traced)
  val meter: Meter = if (traced) new Meter(run.spark.sparkContext) else null
  /** The scored ops' log; [[overtime]] logs ops a workload runs past its
    * fixed scored part to fill the window (see [[scoring]]).
    */
  val scored = new Stats.OpLog
  val overtime = new Stats.OpLog
  /** Whether ops are scored now: a workload whose state grows with every
    * op (churn) scores a fixed number of them and logs the rest as overtime.
    */
  var scoring = true
  def log: Stats.OpLog = if (scoring) scored else overtime
  def attempted: Long = scored.attempted + overtime.attempted
  def failedCount: Long = scored.failedCount + overtime.failedCount
  /** Per-layer sums, divided into per-op means when reported. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private var nextOp = 0L
  private var t0 = 0L

  def add(name: String, v: Double): Unit = layer(name) = layer.getOrElse(name, 0.0) + v

  private var windowStages0 = 0.0
  private var windowBlocks0, windowPosBlocks0 = 0L

  def start(): Unit = {
    windowStages0 = IndexBuilder.stageTimes.values.sum
    windowBlocks0 = BlockMaxWand.blockDecodes.sum()
    windowPosBlocks0 = BlockMaxWand.posBlockDecodes.sum()
    t0 = System.nanoTime()
  }

  /** Seconds the builder's stages ran since [[start]], from any call. */
  def buildStageSeconds: Double = IndexBuilder.stageTimes.values.sum - windowStages0
  /** Posting and position blocks WAND decoded since [[start]], from any call. */
  def blockDecodes: Long = BlockMaxWand.blockDecodes.sum() - windowBlocks0
  def posBlockDecodes: Long = BlockMaxWand.posBlockDecodes.sum() - windowPosBlocks0
  def elapsed: Double = (System.nanoTime() - t0) / 1e9
  def open: Boolean = elapsed < run.seconds

  /** Runs one timed op of `kind` whose engine call belongs to `layerName`
    * (the span name). Returns None when the call threw. `hits` counts the
    * result rows, for rows-read-per-hit; `kindOf`, when given, names the
    * kind an op is logged under from its result.
    */
  def op[T](kind: String, layerName: String, hits: T => Long = (_: T) => 0L,
      kindOf: T => String = null)(call: => T): Option[T] = {
    val id = nextOp
    nextOp += 1
    tracer.beginOp(id)
    var before: Meter.Snap = null
    var blocks0, pos0 = 0L
    var stages0: Map[String, Double] = Map.empty
    if (traced) {
      meter.drain()
      before = meter.snapshot()
      blocks0 = BlockMaxWand.blockDecodes.sum()
      pos0 = BlockMaxWand.posBlockDecodes.sum()
      stages0 = IndexBuilder.stageTimes.toMap
    }
    val s0 = System.nanoTime()
    val res =
      try Some(tracer.span(s"bench.$kind")(tracer.span(layerName)(call)))
      catch {
        case NonFatal(e) =>
          run.fail(s"$kind op $id threw: $e")
          None
      }
    val secs = (System.nanoTime() - s0) / 1e9
    val logged = res match {
      case Some(r) =>
        val k = if (kindOf == null) kind else kindOf(r)
        log.ok(k, secs)
        k
      case None =>
        log.failed(kind)
        kind
    }
    if (traced) {
      meter.drain()
      val after = meter.snapshot()
      val d = after - before
      val wallMs = after.atMs - before.atMs
      val busy = meter.busyMs(before.atMs, after.atMs)
      val hit = res.map(hits).getOrElse(0L)
      record(logged, d, wallMs, busy, hit,
        BlockMaxWand.blockDecodes.sum() - blocks0, BlockMaxWand.posBlockDecodes.sum() - pos0,
        IndexBuilder.stageTimes.toMap, stages0)
    }
    res
  }

  private def record(kind: String, d: Array[Long], wallMs: Long, busyMs: Long, hits: Long,
      blocks: Long, posBlocks: Long, stages: Map[String, Double], stages0: Map[String, Double]): Unit = {
    import Meter._
    add(s"ops.$kind", 1)
    if (Layers.QueryOps.contains(kind)) {
      val p = s"query.$kind"
      add(s"$p.jobs", d(Jobs)); add(s"$p.stages", d(Stages)); add(s"$p.tasks", d(Tasks))
      add(s"$p.idle_s", math.max(0L, wallMs - busyMs) / 1e3)
      add(s"$p.task_s", d(RunMs) / 1e3)
      add(s"$p.input_bytes", d(InBytes)); add(s"$p.shuffle_bytes", d(ShufRead))
      add(s"$p.rows_read", d(InRecords)); add(s"$p.hits", hits)
      add(s"$p.blocks_decoded", blocks); add(s"$p.pos_blocks_decoded", posBlocks)
    }
    // merging and no-op policy calls both count as compaction calls
    val writeKind = if (kind.startsWith("compact")) "compact" else kind
    if (Layers.WriteOps.contains(writeKind)) {
      val p = s"index.$writeKind"
      add(s"$p.calls", 1)
      add(s"$p.jobs", d(Jobs)); add(s"$p.bytes_written", d(OutBytes)); add(s"$p.task_s", d(RunMs) / 1e3)
    }
    if (kind == "build" || kind == "upsert") {
      add("builds", 1)
      Layers.BuildStages.foreach { st =>
        val secs = stages.collect { case (k, v) if k == st || k.startsWith(s"$st-grp-") => v }.sum -
          stages0.collect { case (k, v) if k == st || k.startsWith(s"$st-grp-") => v }.sum
        add(s"index.build.${st}_s", secs)
      }
      add("index.build.shuffle_write_bytes", d(ShufWrite)); add("index.build.spill_bytes", d(Spill))
      add("index.build.cpu_s", d(CpuNs) / 1e9); add("index.build.gc_s", d(GcMs) / 1e3)
      add("index.build.tasks", d(Tasks)); add("index.build.bytes_written", d(OutBytes))
      add("index.build.postings_task_max_over_median", meter.skew())
    }
    meter.trim()
  }

  /** Untimed helper call inside the current op's trace (dictionary resolves). */
  def probe[T](name: String)(call: => T): Double = {
    val s0 = System.nanoTime()
    tracer.span(name)(call)
    (System.nanoTime() - s0) / 1e9
  }
}
