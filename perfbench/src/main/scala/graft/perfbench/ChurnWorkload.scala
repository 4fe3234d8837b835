package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions.col
import graft.index.{SegmentFamily, Tombstones}
import graft.query.{QueryString, MultiSearcher}
import Gen._

/** `churn`: writes beside reads on a `SegmentFamily`. Each cycle upserts
  * a batch whose urls partly repeat earlier ones (so tombstones are
  * written), deletes urls by predicate, reads the family through
  * `MultiSearcher.topK` and `QueryString.topKFamily`, then runs the
  * compaction policy.
  */
object ChurnWorkload extends Workload {
  val Base = 3000
  val Fresh = 400
  val Overlap = 200
  val Deletes = 40
  val Reads = 2
  val K = 10
  // merge two adjacent same-tier segments: a merge lands every second cycle
  val MergeFactor = 2
  val TierFactor = 1.5
  /** Cycles a window scores: one no-op policy check and one merge. The
    * family grows with every cycle, so a window scores a fixed number of
    * them whatever the host's speed; cycles run after them to fill
    * `--seconds` are logged as overtime.
    */
  val ScoredCycles = 2
  type Hits = Seq[(Long, Double)]

  /** What the family should hold: the live doc id of every url, and the url of every id ever written. */
  final class Env(val corpus: Corpus, val root: String, val rare: IndexedSeq[String]) {
    val liveId = mutable.HashMap.empty[String, Long]
    val urlOf = mutable.HashMap.empty[Long, String]
    var nextBase = 0L
    var segs = 0
    var cycles: Iterator[Cycle] = _
    var bytesScored: (Long, Long) = _
  }

  def name = "churn"
  def kinds = Seq("upsert", "delete", "family", "compact", "compact_noop")

  private def pages(run: Run, corpus: Corpus, rows: Seq[Int]) = {
    val spark = run.spark
    import spark.implicits._
    spark.createDataset(rows).repartition(run.cores).map(i => corpus.page(i))
  }

  /** Registers the newest segment's docs: family ids are the segment's own ids plus the docs before it. */
  private def registered(run: Run, env: Env, segDir: String): Unit = {
    val docs = Workload.docUrls(run, segDir)
    docs.foreach { case (id, url) =>
      val g = env.nextBase + id
      env.urlOf(g) = url
      env.liveId(url) = g
    }
    env.nextBase += docs.length
  }

  def setup(run: Run, k: Int): Env = {
    val corpus = Gen.corpus(run.seed, 1, Base + 1000 * Fresh)
    val env = new Env(corpus, run.dir(s"env$k/family"), corpus.copy(n = Base).rareTerms)
    SegmentFamily.upsert(run.spark, env.root, pages(run, corpus, 0 until Base), "seg-0", run.buildCfg)
    env
  }

  private def segDirs(env: Env): Seq[String] = SegmentFamily.read(env.root).map(_.dir)

  private def read(run: Run, env: Env, r: Either[(Seq[String], String), String]): Hits = {
    val ms = SegmentFamily.searcher(run.spark, env.root)
    val df = r match {
      case Left((ts, m)) => ms.topK(ts, m, K)
      case Right(q) => QueryString.topKFamily(ms, q, K)
    }
    df.select("doc_id", "score").collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
  }

  def warmup(run: Run, env: Env): Unit = {
    val c = Gen.churnCycles(run.seed ^ 0x3a7L, env.corpus, Base, Fresh, Overlap, Deletes, Reads, env.rare).next()
    val urls = c.deleteRows.map(env.corpus.url)
    segDirs(env).foreach(d => Tombstones.delete(run.spark, d, col("url").isin(urls: _*)))
    c.reads.foreach(r => read(run, env, r))
    SegmentFamily.maybeCompact(run.spark, env.root, MergeFactor, TierFactor)
  }

  def window(w: Window, env: Env): Unit = {
    val run = w.run
    val spark = run.spark
    registered(run, env, s"${env.root}/seg-0")
    env.cycles = Gen.churnCycles(run.seed, env.corpus, Base, Fresh, Overlap, Deletes, Reads, env.rare)
    w.start()
    while (env.segs < ScoredCycles || w.open) {
      w.scoring = env.segs < ScoredCycles
      val c = env.cycles.next()
      env.segs += 1
      val seg = s"seg-${env.segs}"
      w.op("upsert", "index.upsert")(
        SegmentFamily.upsert(spark, env.root, pages(run, env.corpus, c.upsertRows), seg, run.buildCfg))
        .foreach(_ => registered(run, env, s"${env.root}/$seg"))
      sample(w, env)

      val urls = c.deleteRows.map(env.corpus.url)
      w.op("delete", "index.delete")(segDirs(env).foreach(d => Tombstones.delete(spark, d, col("url").isin(urls: _*))))
        .foreach(_ => urls.foreach(env.liveId.remove))
      sample(w, env)

      val answers = c.reads.map { r =>
        val got = w.op[Hits]("family", "query.family")(read(run, env, r))
        if (w.traced)
          w.add("query.family.dict_resolve_s", w.probe("query.family.dict_resolve") {
            val terms = r.fold(_._1, q => q.split("[^a-z0-9]+").filter(_.startsWith("w")).toSeq)
            new MultiSearcher(spark, segDirs(env)).dfOf(terms)
          })
        got.foreach(h => checkLive(w, env, h))
        r -> got
      }

      val before = segDirs(env).size
      val merged = w.op("compact", "index.compact", kindOf = (m: Boolean) => if (m) "compact" else "compact_noop") {
        SegmentFamily.maybeCompact(spark, env.root, MergeFactor, TierFactor)
        segDirs(env).size < before
      }
      sample(w, env)
      if (env.segs == ScoredCycles) env.bytesScored = storedAndLive(env)
      merged.foreach { m =>
        if (m) answers.foreach { case (r, got) =>
          // answers must not change when segments merge
          if (got.exists(_ != read(run, env, r))) {
            run.fail(s"family answer to $r changed across a compaction")
            w.log.failedLate("compact")
          }
        }
      }
    }
    w.scoring = true
    run.detail("churn.cycles") = env.segs
    run.detail("churn.scored_cycles") = ScoredCycles
  }

  /** No deleted or superseded url is ever returned. */
  private def checkLive(w: Window, env: Env, h: Hits): Unit =
    h.foreach { case (id, _) =>
      val live = env.urlOf.get(id).flatMap(env.liveId.get).contains(id)
      if (!live) {
        w.run.fail(s"family read returned doc $id (${env.urlOf.get(id)}), deleted or superseded")
        w.log.failedLate("family")
      }
    }

  private def sample(w: Window, env: Env): Unit = if (w.traced) {
    val segs = segDirs(env)
    w.add("segment_samples", 1)
    w.add("index.segments_live", segs.size)
    w.add("index.tombstoned_docs", segs.map(Tombstones.count).sum)
  }

  def check(w: Window, env: Env): Unit = ()

  private def storedAndLive(env: Env): (Long, Long) = {
    val live = env.liveId.keys.iterator.map(u => env.corpus.text(Workload.rowOf(env.corpus, u)).getBytes("UTF-8").length.toLong).sum
    (Workload.dirBytes(env.root), live)
  }

  /** Taken at the end of the scored cycles, after their merge. */
  def storedAndTextBytes(env: Env): (Long, Long) = env.bytesScored

  def corpus(env: Env): Corpus = env.corpus
  def someIndex(env: Env): String = segDirs(env).head

  /** Upserts ran build stages and the family reads decoded postings. */
  def layerSplit(w: Window): Unit =
    if (!(w.buildStageSeconds > 0 && w.blockDecodes > 0))
      w.run.fail(s"churn must reach both index.build.* (${w.buildStageSeconds} s) and the query layer " +
        s"(${w.blockDecodes} blocks decoded)")
}
