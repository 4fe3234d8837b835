package graft.perfbench

/** Order statistics and failure accounting for one run. */
object Stats {

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  private def rank(p: Double, n: Int): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  /** Nearest-rank percentile of `xs` (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, rank(p, s.size) - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile of [[TailLadder]] with at least ten samples
    * strictly beyond its rank, or None when `n` samples support none.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => n - rank(p, n) >= 10)

  /** Latencies and outcomes of the timed ops of one run, by op kind. An
    * op that threw counts as failed and gives no latency sample; one that
    * fails a later output check keeps its sample and counts as failed.
    */
  final class OpLog {
    private val secs = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    private val fails = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    private var attemptedN = 0L

    def ok(kind: String, s: Double): Unit = {
      attemptedN += 1
      secs(kind) = secs.getOrElse(kind, Vector.empty) :+ s
    }

    def failed(kind: String): Unit = {
      attemptedN += 1
      fails(kind) = fails.getOrElse(kind, 0L) + 1
    }

    /** A previously successful op of `kind` failed a later output check. */
    def failedLate(kind: String): Unit = fails(kind) = fails.getOrElse(kind, 0L) + 1

    def attempted: Long = attemptedN
    def failedCount: Long = fails.values.sum
    def failedOpRatio: Double = if (attemptedN == 0) 0.0 else failedCount.toDouble / attemptedN
    def kinds: Seq[String] = (secs.keys ++ fails.keys).toSeq.distinct
    def samples(kind: String): Vector[Double] = secs.getOrElse(kind, Vector.empty)
    def all: Vector[Double] = secs.values.flatten.toVector
    def countOf(kind: String): Long = samples(kind).size + fails.getOrElse(kind, 0L)
  }
}
