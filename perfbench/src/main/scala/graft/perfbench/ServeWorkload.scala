package graft.perfbench

import scala.collection.mutable
import graft.index.IndexBuilder
import graft.query.{Facets, NaiveBm25, QueryString, Search, Searcher}
import Gen._

/** `serve`: a read-only seeded request stream against a body index and
  * a first-5-words title index, both built in set-up. Runs the query
  * layers and none of the build path.
  */
object ServeWorkload extends Workload {
  val Docs = 4000
  val K = 10
  type Hits = Seq[(Long, Double)]

  final class Env(val corpus: Corpus, val body: String, val title: String, val searcher: Searcher) {
    val answered = mutable.ArrayBuffer.empty[(ServeOp, Seq[Hits])]
    var terms: Terms = _
  }

  def name = "serve"
  def kinds: Seq[String] = ServePeriod.distinct

  def setup(run: Run, k: Int): Env = {
    val corpus = Gen.corpus(run.seed, 0, Docs)
    val pages = run.dir(s"env$k/pages")
    Workload.stage(run, corpus, 0 until Docs, pages)
    val body = run.dir(s"env$k/body")
    val title = run.dir(s"env$k/title")
    val spark = run.spark
    import spark.implicits._
    // the two builds are independent: set-up runs them side by side
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val titled = Future(IndexBuilder.build(spark, Workload.readPages(run, pages).map(Gen.titlePage), title, run.buildCfg))
    IndexBuilder.build(spark, Workload.readPages(run, pages), body, run.buildCfg)
    Await.result(titled, scala.concurrent.duration.Duration.Inf)
    new Env(corpus, body, title, new Searcher(spark, body))
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Hits =
    df.select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Runs one request; single-query ops answer one hit list, a batch one per query. */
  def exec(run: Run, env: Env, op: ServeOp): Seq[Hits] = {
    val spark = run.spark
    val dir = env.body
    op match {
      case TermOp(ts, m, true) => Seq(env.searcher.topKLocal(ts, m, K))
      case TermOp(ts, m, false) => Seq(hits(Search.topK(spark, dir, ts, m, K)))
      case PhraseOp(ws, slop) => Seq(hits(Search.phraseTopK(spark, dir, ws, K, slop = slop)))
      case ExpandOp("prefix", a) => Seq(hits(Search.prefixTopK(spark, dir, a, K)))
      case ExpandOp("wildcard", a) => Seq(hits(Search.wildcardTopK(spark, dir, a, K)))
      case ExpandOp(_, a) => Seq(hits(Search.fuzzyTopK(spark, dir, a, K)))
      case BoolOp(q) => Seq(hits(QueryString.topK(spark, dir, q, K, textFields = Map("title" -> env.title))))
      case AggOp(how, ts) =>
        val df = if (how == "terms") Facets.termsAgg(spark, dir, ts, "or") else Facets.dateHistogram(spark, dir, ts, "or")
        // bucket rows as (key hash, doc count), comparable with the check's recount
        Seq(df.collect().toSeq.map(r => (bucketKey(r.get(0).toString), r.getAs[Number]("n_docs").doubleValue)))
      case BatchOp(qs) => batch(env, qs)
    }
  }

  private def batch(env: Env, qs: Seq[(Seq[String], String)]): Seq[Hits] = {
    val rows = env.searcher.topKBatch(
      qs.zipWithIndex.map { case ((ts, m), i) => Searcher.BatchQuery(i.toLong, ts, m) }, K)
      .select("qid", "doc_id", "score", "rank").collect()
    val byQ = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    }
    qs.indices.map(i => byQ.getOrElse(i.toLong, Nil))
  }

  private def bucketKey(k: String): Long = k.hashCode.toLong

  /** Terms of an op, for the separately timed dictionary resolve. */
  private def termsOf(op: ServeOp): Seq[String] = op match {
    case TermOp(ts, _, _) => ts
    case PhraseOp(ws, _) => ws.distinct
    case ExpandOp(_, a) => Seq(a)
    case BoolOp(q) => q.split("[^a-z0-9]+").filter(t => t.startsWith("w") || t.startsWith("rareterm")).toSeq
    case AggOp(_, ts) => ts
    case BatchOp(qs) => qs.flatMap(_._1).distinct
  }

  def warmup(run: Run, env: Env): Unit = {
    val period = Gen.serveOps(run.seed ^ 0x3a7L, env.corpus).next()
    ServePeriod.distinct.foreach(kind => exec(run, env, period.find(_.kind == kind).get))
  }

  def window(w: Window, env: Env): Unit = {
    val run = w.run
    val rng = new java.util.SplittableRandom(Gen.mix(run.seed ^ 0x5e27eL))
    env.terms = new Terms(rng, env.corpus.rareTerms)
    val periods = Gen.serveOps(rng, env.terms, env.corpus)
    w.start()
    while (w.open) periods.next().foreach { op =>
      w.op(op.kind, s"query.${op.kind}", (r: Seq[Hits]) => r.map(_.size.toLong).sum)(exec(run, env, op))
        .foreach(r => env.answered += (op -> r))
      if (w.traced)
        w.add(s"query.${op.kind}.dict_resolve_s",
          w.probe(s"query.${op.kind}.dict_resolve")(env.searcher.dfOf(termsOf(op))))
    }
    run.detail("serve.repeated_term_share") = env.terms.repeatShare
    run.detail("serve.term_draws") = env.terms.draws
  }

  private def same(a: Hits, b: Hits, tol: Double): Boolean =
    a.size == b.size && a.zip(b).forall { case ((d1, s1), (d2, s2)) => d1 == d2 && math.abs(s1 - s2) <= tol }

  private def sorted(h: Hits): Boolean =
    h.size <= K && h.zip(h.drop(1)).forall { case ((d1, s1), (d2, s2)) => s1 > s2 || (s1 == s2 && d1 < d2) }

  /** Every answer is a well-ordered top-k. Every term op's timed answer
    * is rank-identical to exhaustive BM25 over the generated corpus
    * (scores within 1e-6) and equal to the two other term paths on the
    * same query, so every term shape is checked on both timed paths. The
    * first two queries of each batch match the driver-local path, and
    * aggregation buckets match a recount over the corpus.
    */
  def check(w: Window, env: Env): Unit = {
    val run = w.run
    val ids = Workload.docUrls(run, env.body)
    val corpusById = ids.toSeq.map { case (id, url) => id -> env.corpus.text(Workload.rowOf(env.corpus, url)) }
    lazy val analyzed = (0 until env.corpus.n).map { i =>
      val p = env.corpus.page(i)
      val day = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(p.warc_ts.getTime))
      (graft.functions.Analyzer.termFreqs(p.text)._2.map(_._1).toSet, p.lang, day)
    }
    // the batch path answers every term query of the window in one call
    val termQueries = env.answered.collect { case (TermOp(ts, m, _), _) => ts -> m }.distinct.toSeq
    val batched = termQueries.zip(batch(env, termQueries)).toMap
    env.answered.foreach { case (op, answer) =>
      def bad(msg: String): Unit = { run.fail(s"${op.kind} $op: $msg"); w.log.failedLate(op.kind) }
      if (op.kind != "agg" && !answer.forall(sorted)) bad("answer not a (score desc, doc_id asc) top-k")
      else op match {
        case TermOp(ts, m, local) =>
          val got = answer.head
          val naive = NaiveBm25.topK(corpusById, ts, m, K).map(s => (s.docId, s.score))
          val others = Seq(
            if (local) hits(Search.topK(run.spark, env.body, ts, m, K)) else env.searcher.topKLocal(ts, m, K),
            batched(ts -> m))
          if (!same(got, naive, 1e-6)) bad(s"differs from exhaustive BM25: $got vs $naive")
          else if (!others.forall(same(got, _, 1e-9))) bad(s"term paths disagree: $got vs $others")
        case BatchOp(qs) =>
          val firsts = qs.take(2).map { case (ts, m) => env.searcher.topKLocal(ts, m, K) }
          if (!firsts.zip(answer).forall { case (a, b) => same(a, b, 1e-9) })
            bad("topKBatch disagrees with topKLocal")
        case AggOp(how, ts) =>
          val want = analyzed.filter(a => ts.exists(a._1.contains))
            .groupBy(a => if (how == "terms") a._2 else a._3)
            .map { case (k, v) => (bucketKey(k), v.size.toDouble) }.toSet
          if (answer.head.toSet != want) bad(s"buckets differ from a recount over the corpus")
        case _ =>
      }
    }
  }

  def storedAndTextBytes(env: Env): (Long, Long) =
    (Workload.dirBytes(env.body) + Workload.dirBytes(env.title), env.corpus.textBytes)

  def corpus(env: Env): Corpus = env.corpus
  def someIndex(env: Env): String = env.body

  /** No build stage ran in the window, and the requests decoded postings. */
  def layerSplit(w: Window): Unit = {
    if (w.buildStageSeconds > 0) w.run.fail(s"serve spent ${w.buildStageSeconds} s in index.build.* outside set-up")
    if (w.blockDecodes == 0) w.run.fail("serve decoded no posting block")
  }
}
