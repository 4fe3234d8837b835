package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import graft.functions.Analyzer
import graft.index.{IndexBuilder, Tombstones}
import graft.index.IndexBuilder.BuildConfig
import graft.query._
import graft.query.BlockMaxWand.PostingIter
import graft.sources.PagesGen

/** ES bool.must_not (term exclusion) and Lucene-style deletes
  * (tombstones + purge): rank identity vs the naive oracle, cross-path
  * consistency (distributed / batch / driver-local / multi-segment), and
  * purge ≡ fresh build over the survivors.
  */
class BoolDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val NDocs = 2000L
  private var dir: Path = _ // pristine index (must_not tests)
  private var delDir: Path = _ // same corpus, gets tombstones
  private var corpus: Seq[(Long, String)] = _ // docID -> text
  private var langOf: Map[Long, String] = _
  private var tsOf: Map[Long, Long] = _ // docID -> warc_ts millis

  private val cfg = BuildConfig(nPartitions = 8, nGroups = 2, nSlices = 4, blockSize = 64)

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("graft-bool")
    delDir = Files.createTempDirectory("graft-del")
    val pages = PagesGen.pages(spark, NDocs, 8)
    IndexBuilder.build(spark, pages, dir.toString, cfg)
    IndexBuilder.build(spark, pages, delDir.toString, cfg)
    val byUrl = (0L until NDocs).map { i =>
      val p = PagesGen.pageFor(i)
      (p.url, p.text, p.lang, p.warc_ts.getTime)
    }.sortBy(_._1)
    corpus = byUrl.zipWithIndex.map { case ((_, text, _, _), id) => (id.toLong, text) }
    langOf = byUrl.zipWithIndex.map { case ((_, _, lang, _), id) => id.toLong -> lang }.toMap
    tsOf = byUrl.zipWithIndex.map { case ((_, _, _, ts), id) => id.toLong -> ts }.toMap
  }

  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(dir.toFile).deleteRecursively()
    new Directory(delDir.toFile).deleteRecursively()
  }

  private def containsTerm(text: String, terms: Seq[String]): Boolean = {
    val toks = Analyzer.tokenize(text).toSet
    terms.exists(toks.contains)
  }

  private def naive(terms: Seq[String], mode: String, mustNot: Seq[String], k: Int = 10) =
    NaiveBm25.topKFiltered(
      corpus, terms, mode, k,
      id => !containsTerm(corpus(id.toInt)._2, mustNot))

  private def got(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  // ---- filter combinators (pure unit) ---------------------------------

  test("SortedIdsSet / NotFilter / AndFilter: monotone probe semantics") {
    val set = new SortedIdsSet(Array(3L, 4L, 5L, 9L))
    assert(!set.matches(1L) && set.matches(3L) && set.matches(4L) && !set.matches(7L) && set.matches(9L) && !set.matches(11L))

    val not = new NotFilter(new SortedIdsSet(Array(3L, 4L, 5L, 9L)))
    assert(!not.exhausted)
    assert(not.contains(2L) && !not.contains(3L) && !not.contains(5L) && not.contains(6L))
    assert(not.ceil(7L) == 7L && !not.contains(9L) && not.ceil(9L) == 10L)

    // run-aware hop: a million-id consecutive tombstone run is crossed in
    // O(log run) binary-search probes, not a million matches() calls —
    // correctness checked here, the complexity by the run finishing fast
    val runStart = 10L
    val runLen = 1 << 20
    val bigRun = Array.tabulate(runLen)(j => runStart + j) ++ Array(5000000L, 5000002L)
    val runSet = new SortedIdsSet(bigRun)
    assert(runSet.nextAbsent(5L) == 5L) // before the run: absent immediately
    assert(runSet.nextAbsent(runStart + 17) == runStart + runLen, "hop to run end")
    assert(runSet.matches(5000000L) && runSet.nextAbsent(5000002L) == 5000003L)
    val notBig = new NotFilter(new SortedIdsSet(bigRun))
    assert(notBig.ceil(runStart) == runStart + runLen)
    assert(notBig.ceil(runStart + runLen) == runStart + runLen) // idempotent re-probe
    assert(notBig.ceil(5000001L) == 5000001L)

    // AND of two allow-lists via complement arithmetic: allowed = evens ∧ not {4,6}
    val evens = new SortedIdsFilter(Array(0L, 2L, 4L, 6L, 8L, 10L))
    val excl = new NotFilter(new SortedIdsSet(Array(4L, 6L)))
    val and = new AndFilter(evens, excl)
    assert(and.contains(0L) && and.contains(2L) && !and.contains(3L) && !and.contains(4L))
    assert(and.ceil(3L) == 8L) // 4 and 6 excluded → next allowed even is 8
    assert(and.ceil(9L) == 10L)
    assert(and.ceil(11L) == Long.MaxValue)
  }

  // ---- must_not -------------------------------------------------------

  private val mnCases = Seq(
    (Seq("w1", "w2"), "or", Seq("w3")),
    (Seq("w1", "w2"), "and", Seq("w5")),
    (Seq("w0"), "or", Seq("w1", "w2")), // hot query, two exclusions
    (Seq("w4", "w7"), "or", Seq("nosuchterm")), // absent exclusion = no-op
    (Seq("rareterm7"), "or", Seq("w0")) // rare query, hot exclusion
  )

  test("must_not ≡ naive exclusion with corpus-global scores (distributed)") {
    mnCases.foreach { case (ts, mode, mn) =>
      val exp = naive(ts, mode, mn)
      val gotD = got(Search.topK(spark, dir.toString, ts, mode, 10, mustNot = mn))
      assert(gotD.map(_._1) == exp.map(_.docId), s"$ts $mode NOT $mn ids")
      gotD.zip(exp).foreach { case ((_, s), e) =>
        assert(math.abs(s - e.score) < 1e-9, s"$ts $mode NOT $mn score")
      }
    }
  }

  test("must_not: batch and driver-local paths agree with the distributed path") {
    val searcher = new Searcher(spark, dir.toString)
    mnCases.foreach { case (ts, mode, mn) =>
      val exp = got(Search.topK(spark, dir.toString, ts, mode, 10, mustNot = mn))
      val batch = searcher.topKBatch(
        Seq(Searcher.BatchQuery(7L, ts, mode, mustNot = mn)), 10)
        .orderBy($"rank").select($"doc_id", $"score")
      assert(got(batch) == exp, s"batch $ts NOT $mn")
      val local = searcher.topKLocal(ts, mode, 10, mustNot = mn)
      assert(local == exp, s"local $ts NOT $mn")
    }
  }

  test("must_not: a term excluded and queried at once matches nothing it contains") {
    // every candidate of the single-term query contains the term → empty
    assert(got(Search.topK(spark, dir.toString, Seq("w3"), "or", 10, mustNot = Seq("w3"))).isEmpty)
    // OR query keeps docs matching w1-but-not-w3
    val exp = naive(Seq("w1", "w3"), "or", Seq("w3"))
    assert(exp.forall(h => !containsTerm(corpus(h.docId.toInt)._2, Seq("w3"))))
    val gotD = got(Search.topK(spark, dir.toString, Seq("w1", "w3"), "or", 10, mustNot = Seq("w3")))
    assert(gotD.map(_._1) == exp.map(_.docId))
  }

  test("must_not composes with filter context (sidecar + ad-hoc)") {
    val exp = NaiveBm25.topKFiltered(
      corpus, Seq("w1", "w2"), "or", 10,
      id => langOf(id) == "en" && !containsTerm(corpus(id.toInt)._2, Seq("w4")))
    val viaAttr = got(Search.topK(spark, dir.toString, Seq("w1", "w2"), "or", 10,
      attrFilter = graft.index.AttrPred.lang("en"), mustNot = Seq("w4")))
    assert(viaAttr.map(_._1) == exp.map(_.docId), "sidecar ∧ must_not")
    val viaCol = got(Search.topK(spark, dir.toString, Seq("w1", "w2"), "or", 10,
      docFilter = $"lang" === "en", mustNot = Seq("w4")))
    assert(viaCol.map(_._1) == exp.map(_.docId), "allow-list ∧ must_not")
  }

  test("must_not on phrase queries") {
    // phrase results minus docs containing the excluded term
    val basePhrase = got(Search.phraseTopK(spark, dir.toString, Seq("w1", "w2"), 50))
    val mn = Seq("w9")
    val expIds = basePhrase.map(_._1)
      .filterNot(id => containsTerm(corpus(id.toInt)._2, mn)).take(10)
    assume(expIds.nonEmpty && expIds != basePhrase.map(_._1).take(10),
      "fixture must make the exclusion observable")
    val gotD = got(Search.phraseTopK(spark, dir.toString, Seq("w1", "w2"), 10, mustNot = mn))
    assert(gotD.map(_._1) == expIds)
  }

  // ---- minimum_should_match -------------------------------------------

  test("minimum_should_match ≡ naive count gate (distributed, batch, local)") {
    def matchCount(id: Long, ts: Seq[String]): Int = {
      val toks = Analyzer.tokenize(corpus(id.toInt)._2).toSet
      ts.count(toks.contains)
    }
    val searcher = new Searcher(spark, dir.toString)
    Seq((Seq("w1", "w2", "w3"), 2), (Seq("w1", "w2", "w3"), 3), (Seq("w0", "w4"), 2)).foreach {
      case (ts, m) =>
        val exp = NaiveBm25.topKFiltered(corpus, ts, "or", 10, id => matchCount(id, ts) >= m)
        val gotD = got(Search.topK(spark, dir.toString, ts, "or", 10, minShouldMatch = m))
        assert(gotD.map(_._1) == exp.map(_.docId), s"msm $ts >= $m ids")
        gotD.zip(exp).foreach { case ((_, s), e) =>
          assert(math.abs(s - e.score) < 1e-9, s"msm $ts >= $m score")
        }
        assert(searcher.topKLocal(ts, "or", 10, minShouldMatch = m) == gotD, "local msm")
        assert(got(searcher.topK(ts, "or", 10, minShouldMatch = m)) == gotD, "batch msm")
        val batch = searcher.topKBatch(Seq(Searcher.BatchQuery(3L, ts, "or", minShouldMatch = m)), 10)
          .orderBy($"rank").select($"doc_id", $"score")
        assert(got(batch) == gotD, "batch-walk msm")
    }
    // msm = |terms| ≡ AND (same candidates, same scores)
    val viaMsm = got(Search.topK(spark, dir.toString, Seq("w1", "w2"), "or", 10, minShouldMatch = 2))
    val viaAnd = got(Search.topK(spark, dir.toString, Seq("w1", "w2"), "and", 10))
    assert(viaMsm == viaAnd, "msm=|terms| ≡ AND")
    // msm > matched vocabulary → empty
    assert(got(Search.topK(spark, dir.toString, Seq("w1", "nosuchterm"), "or", 10, minShouldMatch = 2)).isEmpty)
  }

  // ---- tombstones -----------------------------------------------------

  test("delete marks docs: excluded from every path, survivor scores unchanged") {
    val deleted = (id: Long) => langOf(id) == "de"
    val nDel = Tombstones.delete(spark, delDir.toString, $"lang" === "de")
    assert(nDel == langOf.values.count(_ == "de"), "deleted count")
    assert(Tombstones.count(delDir.toString) == nDel)

    Seq((Seq("w1", "w2"), "or"), (Seq("w1", "w2"), "and"), (Seq("w0"), "or")).foreach {
      case (ts, mode) =>
        // Lucene semantics: stats unchanged until purge → scores equal the
        // pristine index's, candidates minus deleted
        val exp = NaiveBm25.topKFiltered(corpus, ts, mode, 10, id => !deleted(id))
        val gotD = got(Search.topK(spark, delDir.toString, ts, mode, 10))
        assert(gotD.map(_._1) == exp.map(_.docId), s"deleted $ts $mode ids")
        gotD.zip(exp).foreach { case ((_, s), e) =>
          assert(math.abs(s - e.score) < 1e-9, s"deleted $ts $mode score")
        }
        assert(gotD.forall { case (id, _) => !deleted(id) })
        val searcher = new Searcher(spark, delDir.toString)
        assert(searcher.topKLocal(ts, mode, 10) == gotD, "local path sees tombstones")
        assert(got(searcher.topK(ts, mode, 10)) == gotD, "batch path sees tombstones")
        val batch = searcher.topKBatch(Seq(Searcher.BatchQuery(5L, ts, mode)), 10)
          .orderBy($"rank").select($"doc_id", $"score")
        assert(got(batch) == gotD, "batch walk sees tombstones")
    }

    // batched retrieval composes tombstones too (same walks, one job)
    val batchGot = Search.batchTopK(spark, delDir.toString,
      Seq((1L, Seq("w1", "w2"), "or"), (2L, Seq("w0"), "or")), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._3, t._2)).map(_._2).toSeq).toMap
    assert(batchGot(1L) ==
      NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 10, id => !deleted(id)).map(_.docId),
      "batchTopK sees tombstones")
    assert(batchGot(2L) ==
      NaiveBm25.topKFiltered(corpus, Seq("w0"), "or", 10, id => !deleted(id)).map(_.docId))

    // on the tombstoned index every term path agrees to the score bit,
    // with must_not, msm and sidecar filters (materialized and streamed)
    val paths = Seq(
      Searcher.BatchQuery(1L, Seq("w1", "w2"), "or", mustNot = Seq("w3")),
      Searcher.BatchQuery(2L, Seq("w1", "w2", "w3"), "or", minShouldMatch = 2),
      Searcher.BatchQuery(3L, Seq("w0"), "or", graft.index.AttrPred.lang("en")),
      Searcher.BatchQuery(4L, Seq("w1", "w2"), "and",
        graft.index.AttrPred.Not(graft.index.AttrPred.lang("ru")), mustNot = Seq("w5")))
    Seq(1 << 20, 16).foreach(cap =>
      assert(IndexSearchSpec.assertSamePaths(delDir.toString, paths, allowListCap = cap) == paths.size))
  }

  test("delete is incremental and idempotent (sorted-union generations)") {
    val before = Tombstones.count(delDir.toString)
    // re-delete the same predicate: union unchanged
    Tombstones.delete(spark, delDir.toString, $"lang" === "de")
    assert(Tombstones.count(delDir.toString) == before, "idempotent")
    // add a second predicate: union grows by the disjoint new set
    val extra = Tombstones.delete(spark, delDir.toString, $"doc_id" === 0L)
    val expected = before + (if (langOf(0L) == "de") 0 else 1)
    assert(extra == expected && Tombstones.count(delDir.toString) == expected)
    val gotD = got(Search.topK(spark, delDir.toString, Seq("w0"), "or", 10))
    assert(!gotD.exists(_._1 == 0L), "doc 0 gone after incremental delete")
  }

  test("a delete that adds no id writes nothing: no new generation, no commit") {
    val d = Files.createTempDirectory("graft-del-nomatch").toString
    val e = Files.createTempDirectory("graft-del-nomatch-clean").toString
    try {
      IndexBuilder.build(spark, PagesGen.pages(spark, 60, 2), d,
        cfg.copy(nPartitions = 2, nGroups = 1, nSlices = 2))
      // a delete-free index stays delete-free: its queries carry no handle
      val built = graft.sources.Fsx.latest(d).version
      assert(Tombstones.delete(spark, d, $"url" === "no-such-url") == 0L)
      assert(Tombstones.current(d).isEmpty && Tombstones.handle(d) == null)
      assert(graft.sources.Fsx.latest(d).version == built, "a no-match delete committed")
      assert(!graft.sources.Fsx.exists(s"$d/tombstones"), "a no-match delete wrote tombstone files")
      val n = Tombstones.delete(spark, d, $"lang" === "de")
      assert(n > 0 && Tombstones.current(d).contains((0, n)))
      // no match, or only already-deleted matches: generation 0 stays live
      val deleted = graft.sources.Fsx.latest(d).version
      assert(Tombstones.delete(spark, d, $"url" === "no-such-url") == n)
      assert(Tombstones.delete(spark, d, $"lang" === "de") == n)
      assert(graft.sources.Fsx.latest(d).version == deleted)
      // across indexes in one job: neither the deleted nor the clean one moves
      IndexBuilder.build(spark, PagesGen.pages(spark, 60, 2), e,
        cfg.copy(nPartitions = 2, nGroups = 1, nSlices = 2))
      assert(Tombstones.deleteByUrls(spark, Seq(d, e), Seq("no-such-url").toDS()) == Seq(n, 0L))
      assert(Tombstones.current(d).contains((0, n)) && Tombstones.current(e).isEmpty)
      assert(graft.sources.Fsx.latest(d).version == deleted)
      assert(graft.sources.Fsx.listNames(s"$d/tombstones").sorted == Seq("gen-0"))
      assert(!graft.sources.Fsx.exists(s"$e/tombstones"))
      assert(scala.util.Try(Tombstones.deleteByUrls(spark, Seq(d, d), Seq("no-such-url").toDS())).isFailure,
        "one index listed twice would commit twice on one log version")
    } finally {
      import scala.reflect.io.Directory
      Seq(d, e).foreach(x => new Directory(new java.io.File(x)).deleteRecursively())
    }
  }

  test("multi-segment search composes per-segment tombstones") {
    val base = Files.createTempDirectory("graft-mseg-del")
    try {
      val half = NDocs / 2
      val pages = PagesGen.pages(spark, NDocs, 8)
      val a = s"$base/segA"; val b = s"$base/segB"
      // split by url rank: segment A = first half of the sorted url space
      val sortedUrls = (0L until NDocs).map(PagesGen.pageFor(_).url).sorted
      val cut = sortedUrls(half.toInt)
      IndexBuilder.build(spark, pages.filter(_.url < cut), a, cfg)
      IndexBuilder.build(spark, pages.filter(_.url >= cut), b, cfg)
      // delete lang=de docs from BOTH segments
      Tombstones.delete(spark, a, $"lang" === "de")
      Tombstones.delete(spark, b, $"lang" === "de")
      val ms = new MultiSearcher(spark, Seq(a, b))
      val exp = NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 10,
        id => langOf(id) != "de")
      val gotD = got(ms.topK(Seq("w1", "w2"), "or", 10))
      assert(gotD.map(_._1) == exp.map(_.docId), "multiseg tombstones ids")
      // and must_not across segments
      val exp2 = naive(Seq("w1", "w2"), "or", Seq("w3"))
        .filter(h => langOf(h.docId) != "de")
      val got2 = got(ms.topK(Seq("w1", "w2"), "or", 10, mustNot = Seq("w3")))
      assert(got2.map(_._1) == NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 10,
        id => langOf(id) != "de" && !containsTerm(corpus(id.toInt)._2, Seq("w3"))).map(_.docId),
        "multiseg must_not ∧ tombstones")
      // facets over the family: counts merge across segments with no id
      // remap, per-segment tombstones excluded
      val expFacet = corpus.collect {
        case (id, text) if langOf(id) != "de" &&
          containsTerm(text, Seq("w1", "w2")) => langOf(id)
      }.groupBy(identity).map { case (l, xs) => (l, xs.size.toLong) }
      val gotFacet = graft.query.Facets.termsAggMulti(spark, Seq(a, b), Seq("w1", "w2"), "or")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotFacet == expFacet, "family terms agg")
    } finally {
      import scala.reflect.io.Directory
      new Directory(base.toFile).deleteRecursively()
    }
  }

  test("purge ≡ fresh build over the survivors (ids, scores, stats)") {
    val purged = Files.createTempDirectory("graft-purged")
    val fresh = Files.createTempDirectory("graft-fresh")
    try {
      // delDir currently holds tombstones = lang de ∪ {0}
      val deleted = (id: Long) => langOf(id) == "de" || id == 0L
      Tombstones.purge(spark, delDir.toString, purged.toString)
      // survivors keep url-rank order → fresh build over the same pages
      // assigns IDENTICAL dense ids
      val pages = PagesGen.pages(spark, NDocs, 8)
      val sortedUrls = (0L until NDocs).map(PagesGen.pageFor(_).url).sorted
      val idOfUrl = sortedUrls.zipWithIndex.toMap
      IndexBuilder.build(spark, pages.filter(p => {
        val bc = idOfUrl // local for serialization
        !((p.lang == "de") || bc(p.url) == 0)
      }), fresh.toString, cfg)

      val sP = IndexBuilder.readStats(spark, purged.toString)
      val sF = IndexBuilder.readStats(spark, fresh.toString)
      assert(sP.n_docs == sF.n_docs && sP.total_tokens == sF.total_tokens)
      assert(math.abs(sP.avg_dl - sF.avg_dl) < 1e-12)
      assert(Tombstones.count(purged.toString) == 0L, "purged index is clean")

      Seq((Seq("w1", "w2"), "or"), (Seq("w0"), "or"), (Seq("w1", "w2"), "and")).foreach {
        case (ts, mode) =>
          val p = got(Search.topK(spark, purged.toString, ts, mode, 10))
          val f = got(Search.topK(spark, fresh.toString, ts, mode, 10))
          assert(p.map(_._1) == f.map(_._1), s"purged vs fresh $ts $mode ids")
          p.zip(f).foreach { case ((_, a), (_, b)) =>
            assert(math.abs(a - b) < 1e-9, s"purged vs fresh $ts $mode score")
          }
      }
      // and the postings themselves are the fresh build's, byte for byte
      def postings(d: Path) = IndexBuilder.readPostings(spark, d.toString).collect()
        .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }.toString).sorted.toSeq
      assert(postings(purged) == postings(fresh), "purged vs fresh postings")
      // phrase capability survives the purge (positions carried verbatim)
      val pp = got(Search.phraseTopK(spark, purged.toString, Seq("w1", "w2"), 10))
      val fp = got(Search.phraseTopK(spark, fresh.toString, Seq("w1", "w2"), 10))
      assert(pp.map(_._1) == fp.map(_._1), "purged phrase ids")
    } finally {
      import scala.reflect.io.Directory
      new Directory(purged.toFile).deleteRecursively()
      new Directory(fresh.toFile).deleteRecursively()
    }
  }

  // ---- prefix queries -------------------------------------------------

  test("prefix query ≡ OR over the full dictionary expansion; cap honors df order") {
    // expansions recomputed independently from the raw corpus
    def vocabDf(pre: String): Map[String, Int] =
      corpus.flatMap { case (_, text) => Analyzer.tokenize(text).distinct }
        .filter(_.startsWith(pre))
        .groupBy(identity).map { case (t, xs) => (t, xs.size) }
    val pre = "w123"
    val exps = vocabDf(pre).keys.toSeq.sorted
    assume(exps.size > 2 && exps.size < 128, s"fixture prefix must expand moderately: $exps")
    val exp = NaiveBm25.topK(corpus, exps, "or", 10)
    val gotD = got(Search.prefixTopK(spark, dir.toString, pre, 10))
    assert(gotD.map(_._1) == exp.map(_.docId), "prefix ids")
    gotD.zip(exp).foreach { case ((_, s), e) =>
      assert(math.abs(s - e.score) < 1e-9, "prefix score")
    }
    // cap: only the top-maxExpansions terms by (df desc, term) participate
    val top2 = vocabDf(pre).toSeq.sortBy { case (t, df) => (-df, t) }.take(2).map(_._1)
    val expCap = NaiveBm25.topK(corpus, top2, "or", 10)
    val gotCap = got(Search.prefixTopK(spark, dir.toString, pre, 10, maxExpansions = 2))
    assert(gotCap.map(_._1) == expCap.map(_.docId), "capped prefix ids")
    // no expansion → empty
    assert(got(Search.prefixTopK(spark, dir.toString, "zzzz", 10)).isEmpty)
  }

  test("wildcard/regexp query ≡ OR over the anchored-pattern expansion") {
    val vocab = corpus.flatMap { case (_, t) => Analyzer.tokenize(t) }.distinct
    // trailing wildcard + single-char: w12? → w120..w129 (not w12 itself)
    val exps = vocab.filter(_.matches("w12.")).sorted
    assume(exps.size > 2 && exps.size < 128, s"moderate expansion wanted: $exps")
    val exp = NaiveBm25.topK(corpus, exps, "or", 10)
    val gotD = got(Search.wildcardTopK(spark, dir.toString, "w12?", 10))
    assert(gotD.map(_._1) == exp.map(_.docId), s"wildcard ids (exps=$exps)")
    gotD.zip(exp).foreach { case ((_, s), e) => assert(math.abs(s - e.score) < 1e-9) }
    // LEADING wildcard (full dictionary scan, no prefix cut): *42 ≡ terms
    // ending in 42; raw regexp path gives the same answer
    val exps2 = vocab.filter(_.matches(".*42")).sorted
    assume(exps2.nonEmpty && exps2.size < 128)
    val exp2 = NaiveBm25.topK(corpus, exps2, "or", 10)
    val gotW = got(Search.wildcardTopK(spark, dir.toString, "*42", 10))
    val gotR = got(Search.regexpTopK(spark, dir.toString, ".*42", 10))
    assert(gotW.map(_._1) == exp2.map(_.docId), s"leading-wildcard ids (exps=$exps2)")
    assert(gotR == gotW, "regexp and wildcard paths agree")
    // regex metachar in a literal is escaped, not interpreted: 'w.' has no
    // dictionary match (no literal 'w.' term) even though /w./ would
    assert(got(Search.wildcardTopK(spark, dir.toString, "w.", 10)).isEmpty)
    // no expansion → empty
    assert(got(Search.wildcardTopK(spark, dir.toString, "zz*qq", 10)).isEmpty)
  }

  test("multi-segment term-level rewrites: family ≡ single index (prefix/fuzzy/wildcard)") {
    // global-df-capped expansion over the family must equal the merged
    // index's expansion, so every rewrite query is rank-identical between
    // a 2-segment family and the single full index (ids align: bases are
    // url-rank cumulative)
    val root = Files.createTempDirectory("graft-ms-rewrite").toString
    try {
      val byUrl = (0L until NDocs).map(PagesGen.pageFor(_)).sortBy(_.url)
      val aUrls = byUrl.take(NDocs.toInt / 2).map(_.url).toSet
      val segCfg = cfg.copy(nPartitions = 4, nGroups = 1, nSlices = 2)
      IndexBuilder.build(spark, PagesGen.pages(spark, NDocs, 8).filter(p => aUrls(p.url)),
        s"$root/A", segCfg)
      IndexBuilder.build(spark, PagesGen.pages(spark, NDocs, 8).filter(p => !aUrls(p.url)),
        s"$root/B", segCfg)
      val ms = new graft.query.MultiSearcher(spark, Seq(s"$root/A", s"$root/B"))
      assert(got(ms.prefixTopK("w123", 10)) == got(Search.prefixTopK(spark, dir.toString, "w123", 10)),
        "family prefix ≠ single-index prefix")
      assert(got(ms.fuzzyTopK("w1x", 10, maxEdits = 1)) == got(Search.fuzzyTopK(spark, dir.toString, "w1x", 10, maxEdits = 1)),
        "family fuzzy ≠ single-index fuzzy")
      assert(got(ms.wildcardTopK("w12?", 10)) == got(Search.wildcardTopK(spark, dir.toString, "w12?", 10)),
        "family wildcard ≠ single-index wildcard")
      assert(got(ms.regexpTopK(".*42", 10)) == got(Search.regexpTopK(spark, dir.toString, ".*42", 10)),
        "family regexp ≠ single-index regexp")
      // every parameter of the single-index queries, on the family
      def same(fam: org.apache.spark.sql.DataFrame, single: org.apache.spark.sql.DataFrame,
               what: String): Seq[(Long, Double)] = {
        val f = got(fam)
        val s = got(single)
        assert(f.nonEmpty, s"$what: fixture must match")
        assert(f.map(_._1) == s.map(_._1), s"family $what ids: $f vs $s")
        f.zip(s).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9, s"family $what score") }
        s
      }
      val one = dir.toString
      val q = Seq("w1", "w2", "w3")
      same(ms.topK(q, "or", 10, boosts = Seq(2.0, 1.0, 0.5)),
        Search.topK(spark, one, q, "or", 10, boosts = Seq(2.0, 1.0, 0.5)), "boosted topK")
      // two search_after pages, each resuming after the previous page's last hit
      val page1 = got(Search.topK(spark, one, q, "or", 5))
      val after1 = (page1.last._2, page1.last._1)
      val page2 = same(ms.topK(q, "or", 5, searchAfter = after1),
        Search.topK(spark, one, q, "or", 5, searchAfter = after1), "search_after page 2")
      val after2 = (page2.last._2, page2.last._1)
      val page3 = same(ms.topK(q, "or", 5, searchAfter = after2),
        Search.topK(spark, one, q, "or", 5, searchAfter = after2), "search_after page 3")
      assert((page1 ++ page2 ++ page3).map(_._1) == got(Search.topK(spark, one, q, "or", 15)).map(_._1),
        "search_after pages ≠ one deep page")
      same(ms.phraseTopK(Seq("w1", "w2"), 10, slop = 1),
        Search.phraseTopK(spark, one, Seq("w1", "w2"), 10, slop = 1), "slop phrase")
      same(ms.exportMatches(Seq("w1", "w2"), "and").orderBy("doc_id"),
        Search.exportMatches(spark, one, Seq("w1", "w2"), "and").orderBy("doc_id"), "export")
      // family collapse ≡ single-index collapse (global stats + ids align)
      def gotC(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSeq
      assert(
        gotC(new graft.query.MultiSearcher(spark, Seq(s"$root/A", s"$root/B"))
          .collapseTopK(Seq("w1", "w2"), "or", "lang", 10)) ==
          gotC(Search.collapseTopK(spark, dir.toString,
            Seq("w1", "w2"), "or", "lang", 10)),
        "family collapse ≠ single-index collapse")
      // family sort-by-field ≡ single-index sort (global ids align)
      def gotL(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(
        gotL(graft.query.SortBy.topKByAttrMulti(spark, Seq(s"$root/A", s"$root/B"),
          Seq("w1", "w2"), "or", "warc_ts", 10)) ==
          gotL(graft.query.SortBy.topKByAttr(spark, dir.toString,
            Seq("w1", "w2"), "or", "warc_ts", 10)),
        "family sort ≠ single-index sort")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("fuzzy query: misspelling reaches its dictionary neighbors, nothing else") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = corpus.flatMap { case (_, t) => Analyzer.tokenize(t) }.distinct
    // 'w1x' is absent from the vocab; its 1-edit neighbors (w1, w1?, w?x…)
    // are recomputed independently here
    val q = "w1x"
    assume(!vocab.contains(q))
    val exps = vocab.filter(lev(_, q) <= 1)
    assume(exps.nonEmpty, "fixture must have 1-edit neighbors")
    val exp = NaiveBm25.topK(corpus, exps, "or", 10)
    val gotD = got(Search.fuzzyTopK(spark, dir.toString, q, 10, maxEdits = 1))
    assert(gotD.map(_._1) == exp.map(_.docId), s"fuzzy ids (exps=$exps)")
    // exact term in vocab at 0 edits ≡ plain topK
    val e0 = got(Search.fuzzyTopK(spark, dir.toString, "w7", 10, maxEdits = 0))
    assert(e0 == got(Search.topK(spark, dir.toString, Seq("w7"), "or", 10)))
  }

  // ---- aggregations over the match set --------------------------------

  private def matchedIds(ts: Seq[String], and: Boolean, msm: Int = 1): Seq[Long] =
    corpus.collect { case (id, text) =>
      val toks = Analyzer.tokenize(text).toSet
      val m = ts.count(toks.contains)
      (id, if (and) m == ts.distinct.size else m >= msm)
    }.filter(_._2).map(_._1)

  private def bucketOf(id: Long, pattern: String): String =
    java.time.format.DateTimeFormatter.ofPattern(pattern)
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(tsOf(id)))

  test("date histogram ≡ exhaustive bucket counts (or/and, filters compose)") {
    import graft.query.Facets
    // OR histogram at day grain
    val expOr = matchedIds(Seq("w1", "w2"), and = false)
      .groupBy(bucketOf(_, "yyyyMMdd")).map { case (b, ids) => (b, ids.size.toLong) }
    val gotOr = Facets.dateHistogram(spark, dir.toString, Seq("w1", "w2"), "or", "day")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotOr == expOr, "or day histogram")
    // AND histogram at month grain
    val expAnd = matchedIds(Seq("w1", "w2"), and = true)
      .groupBy(bucketOf(_, "yyyyMM")).map { case (b, ids) => (b, ids.size.toLong) }
    val gotAnd = Facets.dateHistogram(spark, dir.toString, Seq("w1", "w2"), "and", "month")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotAnd == expAnd, "and month histogram")
    // msm composes into the enumeration
    val expMsm = matchedIds(Seq("w1", "w2", "w3"), and = false, msm = 2)
      .groupBy(bucketOf(_, "yyyyMM")).map { case (b, ids) => (b, ids.size.toLong) }
    val gotMsm = Facets.dateHistogram(spark, dir.toString, Seq("w1", "w2", "w3"), "or", "month",
      minShouldMatch = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotMsm == expMsm, "msm histogram")
  }

  test("terms agg ≡ exhaustive lang counts; must_not + tombstones compose") {
    import graft.query.Facets
    val expLang = matchedIds(Seq("w1", "w2"), and = false)
      .groupBy(langOf).map { case (l, ids) => (l, ids.size.toLong) }
    val gotLang = Facets.termsAgg(spark, dir.toString, Seq("w1", "w2"), "or")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotLang == expLang, "lang facet")
    // must_not composes
    val expMn = matchedIds(Seq("w1", "w2"), and = false)
      .filterNot(id => containsTerm(corpus(id.toInt)._2, Seq("w3")))
      .groupBy(langOf).map { case (l, ids) => (l, ids.size.toLong) }
    val gotMn = Facets.termsAgg(spark, dir.toString, Seq("w1", "w2"), "or", mustNot = Seq("w3"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotMn == expMn, "lang facet with must_not")
    // tombstones compose (delDir: lang=de ∪ {0} deleted by earlier tests,
    // ordering within the suite guarantees that state)
    val deleted = (id: Long) => langOf(id) == "de" || id == 0L
    val expDel = matchedIds(Seq("w1", "w2"), and = false)
      .filterNot(deleted)
      .groupBy(langOf).map { case (l, ids) => (l, ids.size.toLong) }
    val gotDel = Facets.termsAgg(spark, delDir.toString, Seq("w1", "w2"), "or")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotDel == expDel, "lang facet excludes tombstones")
    assert(!gotDel.contains("de"), "deleted lang bucket absent")
    // attr filter composes (lang en only)
    val expF = matchedIds(Seq("w1", "w2"), and = false)
      .filter(langOf(_) == "en")
      .groupBy(bucketOf(_, "yyyyMM")).map { case (b, ids) => (b, ids.size.toLong) }
    val gotF = Facets.dateHistogram(spark, dir.toString, Seq("w1", "w2"), "or", "month",
      attrFilter = graft.index.AttrPred.lang("en"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotF == expF, "histogram with lang filter context")
  }

  test("field collapsing: exactly one best hit per keyword value, exact scores") {
    // naive expectation: score EVERY match, keep the best (score desc,
    // id asc) per lang, rank groups by their winner
    def naiveCollapse(terms: Seq[String], mode: String, k: Int): Seq[(String, Long, Double)] = {
      val all = NaiveBm25.topK(corpus, terms, mode, NDocs.toInt)
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Double)]
      all.foreach { h =>
        val l = langOf(h.docId)
        if (!seen.contains(l)) seen.update(l, (h.docId, h.score))
      }
      seen.toSeq.map { case (l, (id, s)) => (l, id, s) }
        .sortBy { case (_, id, s) => (-s, id) }.take(k)
    }
    Seq(("or", Seq("w1", "w2")), ("and", Seq("w1", "w2")), ("or", Seq("rareterm7"))).foreach {
      case (mode, terms) =>
        val expected = naiveCollapse(terms, mode, 10)
        val gotC = Search.collapseTopK(spark, dir.toString, terms, mode, "lang", 10)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
        assert(gotC.map(t => (t._1, t._2)) == expected.map(t => (t._1, t._2)),
          s"$mode/$terms collapse: $gotC vs $expected")
        gotC.zip(expected).foreach { case ((_, _, gs), (_, _, es)) =>
          assert(math.abs(gs - es) < 1e-9, s"$mode/$terms collapse score")
        }
        // a group's best must be found even when it ranks below the flat
        // top-10 (exactness vs post-filtering): every lang with ANY match
        // appears
        val langsWithMatch = matchedIds(terms, mode == "and").map(langOf).distinct.size
        assert(gotC.size == math.min(10, langsWithMatch), s"$mode/$terms group coverage")
    }
  }

  test("field collapsing: value-cap overflow streams to the global window, results unchanged") {
    // valueCap=1: every slice's combiner holds ONE entry; all other
    // values stream straight through to the shuffle. Task memory is
    // bounded by the cap while the global winner-per-value window keeps
    // the results identical — the spill path must be invisible.
    Seq(("or", Seq("w1", "w2")), ("and", Seq("w1", "w2"))).foreach { case (mode, terms) =>
      val ref = Search.collapseTopK(spark, dir.toString, terms, mode, "lang", 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      val capped = Search.collapseTopK(spark, dir.toString, terms, mode, "lang", 10,
        valueCap = 1)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(capped == ref, s"$mode/$terms: capped collapse diverged")
    }
  }

  test("stats agg: exact min/max/sum/avg over the match set; composes with filters") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    def expStats(ids: Seq[Long]) = {
      val vs = ids.map(dlOf)
      (ids.size.toLong, vs.min, vs.max, vs.sum, vs.sum.toDouble / ids.size)
    }
    val ids = matchedIds(terms, and = false)
    val (en, emn, emx, esm, eavg) = expStats(ids)
    val r = Facets.statsAgg(spark, dir.toString, terms, "or", "doc_len").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((en, emn, emx, esm)))
    assert(math.abs(r.getDouble(4) - eavg) < 1e-9)
    // filter context composes (lang keyword via the sidecar cursor)
    val ruIds = ids.filter(id => langOf(id) == "ru")
    val (rn, rmn, rmx, rsm, ravg) = expStats(ruIds)
    val rr = Facets.statsAgg(spark, dir.toString, terms, "or", "doc_len",
      attrFilter = graft.index.AttrPred.lang("ru")).head()
    assert((rr.getLong(0), rr.getLong(1), rr.getLong(2), rr.getLong(3)) == ((rn, rmn, rmx, rsm)))
    assert(math.abs(rr.getDouble(4) - ravg) < 1e-9)
    // empty match set → ES stats shape (0, nulls)
    val er = Facets.statsAgg(spark, dir.toString, Seq("nosuchterm"), "or", "doc_len").head()
    assert(er.getLong(0) == 0L && er.isNullAt(1) && er.isNullAt(2) && er.isNullAt(3) && er.isNullAt(4))
  }

  test("terms+stats agg: per-bucket (n,min,max,sum,avg), ordered by the sub-metric") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val ids = matchedIds(terms, and = false)
    val exp = ids.groupBy(langOf).map { case (l, g) =>
      val vs = g.map(dlOf)
      (l, (g.size.toLong, vs.min, vs.max, vs.sum, vs.sum.toDouble / g.size))
    }
    val got = Facets.termsStatsAgg(spark, dir.toString, terms, "or", "lang", "doc_len",
      orderMetric = "avg", size = 10)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
    assert(got.toMap.keySet == exp.keySet)
    got.foreach { case (l, (n, mn, mx, sm, avg)) =>
      val (en, emn, emx, esm, eavg) = exp(l)
      assert((n, mn, mx, sm) == ((en, emn, emx, esm)), s"lang $l stats")
      assert(math.abs(avg - eavg) < 1e-9, s"lang $l avg")
    }
    // ordered by avg desc, value asc
    val avgs = got.map { case (l, t) => (l, t._5) }.toSeq
    assert(avgs == avgs.sortBy { case (l, a) => (-a, l) }, "sub-metric order")
    // order by count puts the biggest bucket first, and size caps output
    val byCount = Facets.termsStatsAgg(spark, dir.toString, terms, "or", "lang",
      "doc_len", orderMetric = "count", size = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expTop = exp.toSeq.map { case (l, t) => (l, t._1) }
      .sortBy { case (l, n) => (-n, l) }.head
    assert(byCount.toSeq == Seq(expTop), "count order + size cap")
  }

  test("multi_terms agg: composite (kw × kw) buckets — one count per value pair") {
    import graft.query.Facets
    // index with a SECOND declared keyword (site, url-derived) next to lang
    val mtDir = Files.createTempDirectory("graft-mt")
    try {
      val n = 600L
      IndexBuilder.build(spark, PagesGen.pages(spark, n, 8), mtDir.toString,
        cfg.copy(attrs = graft.index.AttrSchema.Default :+
          graft.index.AttrSpec("site", graft.index.AttrSchema.Kw,
            "regexp_extract(url, 'https://site([0-9]+)', 1)")))
      val byUrl = (0L until n).map { i =>
        val p = PagesGen.pageFor(i)
        (p.url, p.text, p.lang, p.url.replaceAll("https://site([0-9]+).*", "$1"))
      }.sortBy(_._1)
      val c = byUrl.zipWithIndex.map { case ((_, t, _, _), id) => (id.toLong, t) }
      val lOf = byUrl.zipWithIndex.map { case ((_, _, l, _), id) => id.toLong -> l }.toMap
      val sOf = byUrl.zipWithIndex.map { case ((_, _, _, s), id) => id.toLong -> s }.toMap
      val ids = c.collect { case (id, text)
        if Seq("w1", "w2").exists(Analyzer.tokenize(text).toSet.contains) => id }
      val exp = ids.groupBy(id => (sOf(id), lOf(id)))
        .map { case (k, g) => (k, g.size.toLong) }
      val got = Facets.multiTermsAgg(spark, mtDir.toString, Seq("w1", "w2"), "or",
        kwField = "site", kwField2 = "lang")
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      assert(got.toMap == exp, "composite buckets")
      // ES order: count desc, then keys asc
      assert(got.sortBy { case ((s, l), n) => (-n, s, l) }.toSeq == got.toSeq, "bucket order")
      // terms + cardinality sub-agg rides the same pair walk: distinct
      // langs (and doc counts) per site
      val expCard = ids.groupBy(sOf).map { case (site, g) =>
        site -> ((g.map(lOf).distinct.size.toLong, g.size.toLong))
      }
      val gotCard = Facets.termsCardinalityAgg(spark, mtDir.toString, Seq("w1", "w2"), "or",
        kwField = "site", distinctField = "lang")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(gotCard == expCard, s"terms cardinality: $gotCard vs $expCard")
    } finally {
      import scala.reflect.io.Directory
      new Directory(mtDir.toFile).deleteRecursively()
    }
  }

  test("filters agg: named term-query buckets over the base match set, one walk") {
    import graft.query.Facets
    val base = matchedIds(Seq("w1", "w2"), and = false).toSet
    def hasAll(id: Long, ts: Seq[String]) = {
      val toks = Analyzer.tokenize(corpus(id.toInt)._2).toSet
      ts.forall(toks.contains)
    }
    def hasAny(id: Long, ts: Seq[String]) = {
      val toks = Analyzer.tokenize(corpus(id.toInt)._2).toSet
      ts.exists(toks.contains)
    }
    val exp = Map(
      "hot" -> base.count(hasAny(_, Seq("w0"))).toLong,
      "pair" -> base.count(hasAll(_, Seq("w3", "w5"))).toLong,
      "rare" -> base.count(hasAny(_, Seq("rareterm7"))).toLong
    ).filter(_._2 > 0L)
    val got = Facets.filtersAgg(spark, dir.toString, Seq("w1", "w2"), "or",
      buckets = Seq(
        ("hot", Seq("w0"), "or"),
        ("pair", Seq("w3", "w5"), "and"),
        ("rare", Seq("rareterm7"), "or")))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toMap == exp, s"filters agg: ${got.toMap} vs $exp")
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted, "bucket name order")
    // a bucket over an absent term vanishes (no zero-fill), others unchanged
    val got2 = Facets.filtersAgg(spark, dir.toString, Seq("w1", "w2"), "or",
      buckets = Seq(("ghost", Seq("nosuchterm"), "or"), ("hot", Seq("w0"), "or")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == Map("hot" -> exp("hot")), "absent-term bucket omitted")
  }

  test("synonym groups score as ONE term (tf summed, max-df idf) — SynonymQuery") {
    val groups = Seq(Seq("w2"), Seq("w3", "w5"))
    Seq("or", "and").foreach { mode =>
      val exp = NaiveBm25.synonymTopK(corpus, groups, mode, 10)
      val gotS = got(Search.synonymTopK(spark, dir.toString, groups, mode, 10))
      assert(gotS.map(_._1) == exp.map(_.docId), s"$mode synonym ranks: $gotS vs $exp")
      gotS.zip(exp).foreach { case ((_, gs), e) =>
        assert(math.abs(gs - e.score) < 1e-9, s"$mode synonym score")
      }
    }
    // msm counts GROUPS; must_not and attr filter compose
    val expMsm = NaiveBm25.synonymTopK(corpus, groups, "or", 10, minShouldMatch = 2)
    assert(got(Search.synonymTopK(spark, dir.toString, groups, "or", 10,
      minShouldMatch = 2)).map(_._1) == expMsm.map(_.docId), "synonym msm")
    val expMn = NaiveBm25.synonymTopK(corpus, groups, "or", 10,
      allowed = id => !containsTerm(corpus(id.toInt)._2, Seq("w7")))
    assert(got(Search.synonymTopK(spark, dir.toString, groups, "or", 10,
      mustNot = Seq("w7"))).map(_._1) == expMn.map(_.docId), "synonym must_not")
    val expF = NaiveBm25.synonymTopK(corpus, groups, "or", 10,
      allowed = id => langOf(id) == "en")
    assert(got(Search.synonymTopK(spark, dir.toString, groups, "or", 10,
      attrFilter = graft.index.AttrPred.lang("en"))).map(_._1) == expF.map(_.docId),
      "synonym attr filter")
    // a doc with BOTH members must score once, not twice: compare against
    // OR-expansion, which differs whenever co-occurrence exists
    val coDocs = corpus.filter { case (_, t) =>
      val toks = Analyzer.tokenize(t).toSet
      toks.contains("w3") && toks.contains("w5")
    }
    assert(coDocs.nonEmpty, "fixture has co-occurring synonym members")
  }

  test("match_phrase_prefix: last term expands in TERM order; per-doc best expansion") {
    val prefix = "w1" // expands to w1, w10, w100, … capped at 8
    val vocab = corpus.flatMap { case (_, t) => Analyzer.tokenize(t) }.distinct
    val exps = vocab.filter(_.startsWith(prefix)).sorted.take(8)
    assert(exps.size > 2, "fixture prefix expands to several terms")
    val naive = exps
      .flatMap(e => NaiveBm25.phraseTopK(corpus, Seq("w2", e), corpus.size))
      .groupBy(_.docId).map { case (id, hs) => (id, hs.map(_.score).max) }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    val gotP = got(Search.phrasePrefixTopK(spark, dir.toString, Seq("w2", prefix), 10,
      maxExpansions = 8))
    assert(gotP.map(_._1) == naive.map(_._1), s"phrase_prefix ranks: $gotP vs $naive")
    gotP.zip(naive).foreach { case ((_, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-9, "phrase_prefix score")
    }
    // absent prefix → empty
    assert(Search.phrasePrefixTopK(spark, dir.toString, Seq("w2", "zzz"), 10).count() == 0L)
  }

  test("term boosts: ^boost scales each term's whole contribution (bounds stay exact)") {
    val terms = Seq("w1", "w2", "w3")
    val boosts = Seq(2.0, 1.0, 0.5)
    // exhaustive: score = Σ boost_t · idf_t · impact
    val analyzed = corpus.map { case (id, t) =>
      val (dl, tfs) = Analyzer.termFreqs(t); (id, dl, tfs.toMap)
    }
    val n = corpus.size.toLong
    val avgDl = analyzed.map(_._2.toLong).sum.toDouble / n
    val idfOf = terms.map(t =>
      t -> NaiveBm25.idf(n, analyzed.count(_._3.contains(t)).toLong)).toMap
    val exp = analyzed.flatMap { case (id, dl, tfs) =>
      val s = terms.zip(boosts).collect {
        case (t, b) if tfs.contains(t) =>
          b * idfOf(t) * (tfs(t) / (tfs(t) + graft.index.IndexBuilder.K1 *
            (1 - graft.index.IndexBuilder.B + graft.index.IndexBuilder.B * dl / avgDl)))
      }.sum
      if (s > 0) Some((id, s)) else None
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val gotB = got(Search.topK(spark, dir.toString, terms, "or", 10, boosts = boosts))
    assert(gotB.map(_._1) == exp.map(_._1), s"boosted ranks: $gotB vs $exp")
    gotB.zip(exp).foreach { case ((_, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-9, "boosted score")
    }
    // boost 1.0 everywhere ≡ unboosted
    assert(got(Search.topK(spark, dir.toString, terms, "or", 10,
      boosts = Seq(1.0, 1.0, 1.0))) == got(Search.topK(spark, dir.toString, terms, "or", 10)),
      "unit boosts are the identity")
  }

  test("dis_max: best term + tie_breaker x the rest; tb=1 ≡ bool.should sum") {
    val terms = Seq("w1", "w2", "w3")
    val analyzed = corpus.map { case (id, t) =>
      val (dl, tfs) = Analyzer.termFreqs(t); (id, dl, tfs.toMap)
    }
    val n = corpus.size.toLong
    val avgDl = analyzed.map(_._2.toLong).sum.toDouble / n
    val idfOf = terms.map(t =>
      t -> NaiveBm25.idf(n, analyzed.count(_._3.contains(t)).toLong)).toMap
    def expect(tb: Double) = analyzed.flatMap { case (id, dl, tfs) =>
      val cs = terms.collect {
        case t if tfs.contains(t) =>
          idfOf(t) * (tfs(t) / (tfs(t) + graft.index.IndexBuilder.K1 *
            (1 - graft.index.IndexBuilder.B + graft.index.IndexBuilder.B * dl / avgDl)))
      }
      if (cs.isEmpty) None
      else Some((id, cs.max + tb * (cs.sum - cs.max)))
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    Seq(0.0, 0.3).foreach { tb =>
      val exp = expect(tb)
      val gotD = got(Search.disMaxTopK(spark, dir.toString, terms, 10, tieBreaker = tb))
      assert(gotD.map(_._1) == exp.map(_._1), s"dis_max tb=$tb ranks")
      gotD.zip(exp).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9, s"dis_max tb=$tb score")
      }
    }
    // tb=1 ranks exactly like the plain bool.should sum
    assert(got(Search.disMaxTopK(spark, dir.toString, terms, 10, tieBreaker = 1.0)).map(_._1)
      == got(Search.topK(spark, dir.toString, terms, "or", 10)).map(_._1),
      "tb=1 ≡ sum")
    // filter context composes
    val expF = analyzed.flatMap { case (id, dl, tfs) =>
      if (langOf(id) != "en") None
      else {
        val cs = terms.collect {
          case t if tfs.contains(t) =>
            idfOf(t) * (tfs(t) / (tfs(t) + graft.index.IndexBuilder.K1 *
              (1 - graft.index.IndexBuilder.B + graft.index.IndexBuilder.B * dl / avgDl)))
        }
        if (cs.isEmpty) None else Some((id, cs.max))
      }
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got(Search.disMaxTopK(spark, dir.toString, terms, 10,
      attrFilter = graft.index.AttrPred.lang("en"))).map(_._1) == expF.map(_._1),
      "dis_max attr filter")
  }

  test("export: the FULL match set streams out with exact scores (ES scroll role)") {
    Seq(("or", Seq("w1", "w2")), ("and", Seq("w1", "w2"))).foreach { case (mode, terms) =>
      val exp = NaiveBm25.topK(corpus, terms, mode, NDocs.toInt)
        .map(h => (h.docId, h.score)).sortBy(_._1)
      val gotE = Search.exportMatches(spark, dir.toString, terms, mode)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(gotE.map(_._1) == exp.map(_._1), s"$mode export id set")
      gotE.zip(exp).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9, s"$mode export score")
      }
    }
    // must_not composes; tombstoned docs never export (delDir)
    val expMn = NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", NDocs.toInt,
      id => !containsTerm(corpus(id.toInt)._2, Seq("w3"))).map(_.docId).sorted
    assert(Search.exportMatches(spark, dir.toString, Seq("w1", "w2"), "or",
      mustNot = Seq("w3")).collect().map(_.getLong(0)).sorted.toSeq == expMn, "export must_not")
    val deleted = (id: Long) => langOf(id) == "de" || id == 0L
    val expDel = NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", NDocs.toInt,
      id => !deleted(id)).map(_.docId).sorted
    assert(Search.exportMatches(spark, delDir.toString, Seq("w1", "w2"), "or")
      .collect().map(_.getLong(0)).sorted.toSeq == expDel, "export excludes tombstones")
  }

  test("adjacency_matrix: singles + pairwise intersections from one walk") {
    import graft.query.Facets
    val base = matchedIds(Seq("w1", "w2"), and = false).toSet
    def hasAny(id: Long, ts: Seq[String]) =
      ts.exists(Analyzer.tokenize(corpus(id.toInt)._2).toSet.contains)
    val inHot = base.filter(hasAny(_, Seq("w0")))
    val inW3 = base.filter(hasAny(_, Seq("w3")))
    val exp = Map(
      "hot" -> inHot.size.toLong,
      "w3docs" -> inW3.size.toLong,
      "hot&w3docs" -> (inHot intersect inW3).size.toLong
    ).filter(_._2 > 0L)
    val gotA = Facets.adjacencyMatrixAgg(spark, dir.toString, Seq("w1", "w2"), "or",
      buckets = Seq(("hot", Seq("w0"), "or"), ("w3docs", Seq("w3"), "or")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotA == exp, s"adjacency: $gotA vs $exp")
    assert(exp.contains("hot&w3docs") && exp("hot&w3docs") < exp("hot"),
      "fixture has a non-trivial intersection")
  }

  test("date_histogram + metric sub-agg: per-bucket stats over time") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val exp = matchedIds(terms, and = false).groupBy(bucketOf(_, "yyyyMM")).map {
      case (b, g) =>
        val vs = g.map(dlOf)
        b -> ((g.size.toLong, vs.min, vs.max, vs.sum, vs.sum.toDouble / g.size))
    }
    val got = Facets.dateHistogramStats(spark, dir.toString, terms, "or", "doc_len",
      interval = "month")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == exp.keySet, "bucket set")
    got.foreach { case (b, (n, mn, mx, sm, avg)) =>
      val (en, emn, emx, esm, eavg) = exp(b)
      assert((n, mn, mx, sm) == ((en, emn, emx, esm)), s"bucket $b stats")
      assert(math.abs(avg - eavg) < 1e-9, s"bucket $b avg")
    }
  }

  test("moving_avg + composite paging over the bucket space") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    // moving_avg: trailing-3 average ≡ recompute over the bucket series
    val hist = matchedIds(terms, and = false).groupBy(bucketOf(_, "yyyyMM"))
      .map { case (b, g) => (b, g.size.toLong) }.toSeq.sortBy(_._1)
    val expMa = hist.zipWithIndex.map { case ((b, n), i) =>
      val w = hist.slice(math.max(0, i - 2), i + 1).map(_._2)
      (b, n, w.sum.toDouble / w.size)
    }
    val gotMa = Facets.movingAvg(spark, dir.toString, terms, "or", "month", window = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(gotMa.map(t => (t._1, t._2)) == expMa.map(t => (t._1, t._2)), "mov_avg buckets")
    gotMa.zip(expMa).foreach { case ((_, _, g), (_, _, e)) =>
      assert(math.abs(g - e) < 1e-9, "mov_avg value")
    }
    // composite paging: pages tile the key-ordered bucket space exactly
    val all = Facets.termsDateHistogram(spark, dir.toString, terms, "or", "lang", "month")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val size = 4
    var after: (String, String) = null
    val paged = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (!done) {
      val page = Facets.compositePage(spark, dir.toString, terms, "or", "lang", "month",
        size = size, afterKey = after)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      paged ++= page
      if (page.size < size) done = true else after = (page.last._1, page.last._2)
    }
    assert(paged.toSeq == all, "composite pages tile the bucket space without gaps/overlaps")
  }

  test("percentiles agg: exact nearest-rank values over the match set") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val vs = matchedIds(terms, and = false).map(dlOf).sorted
    val ps = Seq(10.0, 25.0, 50.0, 75.0, 95.0, 99.0, 100.0)
    val exp = ps.map(p => p -> vs((math.ceil(p / 100.0 * vs.size) - 1).toInt.max(0))).toMap
    val got = Facets.percentilesAgg(spark, dir.toString, terms, "or", "doc_len", ps)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got == exp, s"percentiles: $got vs $exp")
  }

  test("batchTopK: many queries, one job ≡ per-query naive top-k") {
    val batch = Seq(
      (1L, Seq("w1", "w2"), "or"),
      (2L, Seq("w1", "w2"), "and"),
      (3L, Seq("w0"), "or"),
      (4L, Seq("rareterm7", "w4"), "or"),
      (5L, Seq("nosuchterm"), "or"),          // unmatched → absent
      (6L, Seq("w1", "nosuchterm"), "and")    // AND with missing term → absent
    )
    val got = Search.batchTopK(spark, dir.toString, batch, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._3, t._2)).toSeq).toMap
    batch.take(4).foreach { case (qid, ts, mode) =>
      val exp = NaiveBm25.topK(corpus, ts, mode, 10)
      assert(got(qid).map(_._2) == exp.map(_.docId), s"qid $qid ids")
      got(qid).zip(exp).foreach { case ((_, _, s), e) =>
        assert(math.abs(s - e.score) < 1e-9, s"qid $qid score")
      }
    }
    assert(!got.contains(5L) && !got.contains(6L), "unmatchable queries absent")
  }

  test("extended_stats and percentile_ranks ≡ exhaustive recompute") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val vs = matchedIds(terms, and = false).map(dlOf)
    val n = vs.size.toLong
    val (sm, s2) = (vs.sum, vs.map(v => v * v).sum)
    val avg = sm.toDouble / n
    val variance = s2.toDouble / n - avg * avg
    val row = Facets.extendedStatsAgg(spark, dir.toString, terms, "or", "doc_len").head()
    assert(row.getLong(0) == n && row.getLong(1) == vs.min && row.getLong(2) == vs.max)
    assert(row.getLong(3) == sm && row.getLong(4) == s2)
    assert(math.abs(row.getAs[Double]("variance_v") - variance) < 1e-9)
    assert(math.abs(row.getAs[Double]("std_dev_v") - math.sqrt(variance)) < 1e-9)

    val probes = Seq(0L, 40L, 80L, 10000L)
    val exp = probes.map(p => p -> math.round(vs.count(_ <= p) * 1e6 / n)).toMap
    val got = Facets.percentileRanksAgg(spark, dir.toString, terms, "or", "doc_len", probes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp, s"pct_ranks: $got vs $exp")
    assert(got(10000L) == 1000000L, "probe above max = 100%")
  }

  test("auto_date_histogram: interval ladder picks the finest fitting rung") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false)
    val msOf = ids.map(tsOf)
    def buckets(pattern: String) = ids.groupBy(id => bucketOf(id, pattern))
      .view.mapValues(_.size.toLong).toMap
    val hours = msOf.max / 3600000L - msOf.min / 3600000L + 1
    val days = msOf.max / 86400000L - msOf.min / 86400000L + 1
    assert(hours > 30 && days >= 2, "fixture must exercise the coarser rungs")
    // huge target → hour; mid target → day; tiny target → month
    def run(target: Int) = {
      val rows = Facets.autoDateHistogram(spark, dir.toString, terms, "or", target)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      (rows.head._1, rows.map(r => r._2 -> r._3).toMap)
    }
    val (i1, b1) = run(hours.toInt + 5)
    assert(i1 == "hour" && b1 == buckets("yyyyMMddHH"), s"hour rung: $i1")
    val (i2, b2) = run(days.toInt + 2)
    assert(i2 == "day" && b2 == buckets("yyyyMMdd"), s"day rung: $i2")
    val (i3, b3) = run(1)
    assert(i3 == "month" && b3 == buckets("yyyyMM"), s"month rung: $i3")
  }

  test("significant_terms background is bounded by the foreground key set") {
    import graft.query.Facets
    // the fixture corpus has several langs; a foreground of ONE key must
    // collect exactly one background row — never the corpus histogram
    // (the VERDICT r4 driver-OOM class on high-cardinality keywords)
    val bg = Facets.backgroundCounts(spark, dir.toString, "lang", Set("en"))
    assert(bg.keySet == Set("en"), bg.toString)
    assert(bg("en") == langOf.values.count(_ == "en").toLong)
    assert(Facets.backgroundCounts(spark, dir.toString, "lang", Set.empty).isEmpty)
    // end-to-end: significantTerms still serves the JLH ranking
    val st = Facets.significantTerms(spark, dir.toString, Seq("w1", "w2"), "or",
      kwField = "lang", size = 5).collect()
    assert(st.nonEmpty)
  }

  test("range agg ≡ exhaustive explicit buckets; cardinality agg exact in sparse mode") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false)
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val edges = Seq(40L, 70L, 100L)
    val expRange = ids.groupBy(id => edges.count(dlOf(id) >= _).toLong)
      .view.mapValues(_.size.toLong).toMap
    val gotRange = Facets.rangeAgg(spark, dir.toString, terms, "or", "doc_len", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRange == expRange, s"range: $gotRange vs $expRange")

    val expCard = ids.map(langOf).distinct.size.toLong
    val card = Facets.cardinalityAgg(spark, dir.toString, terms, "or", "lang").head()
    assert(card.getLong(0) == expCard && card.getBoolean(1), card.toString)
    // empty match set
    val none = Facets.cardinalityAgg(spark, dir.toString, Seq("nosuchterm"), "or", "lang").head()
    assert(none.getLong(0) == 0L && none.getBoolean(1))
  }

  test("log-bucket approx percentiles: exact when values fit unit buckets; ≡ exhaustive sketch at s=3") {
    import graft.query.Facets
    import graft.functions.LogBuckets
    val terms = Seq("w1", "w2")
    // s=7: unit buckets cover [0, 256) — every fixture doc_len is exact,
    // so the approx agg must equal the exact nearest-rank agg
    val exact = Facets.percentilesAgg(spark, dir.toString, terms, "or", "doc_len")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val appro7 = Facets.percentilesApproxAgg(spark, dir.toString, terms, "or", "doc_len", logS = 7)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(appro7 == exact, s"s=7 should be exact: $appro7 vs $exact")

    // s=3: recompute the sketch exhaustively — bucket, cumulate, rank
    val ids = matchedIds(terms, and = false)
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val vals = ids.map(dlOf)
    val hist = vals.groupBy(LogBuckets.bucketOf(_, 3)).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val cum = hist.scanLeft((Long.MinValue, 0L)) { case ((_, c), (b, n)) => (b, c + n) }.drop(1)
    val n = vals.size.toLong
    val expected = Seq(25.0, 50.0, 75.0, 95.0, 99.0).map { p =>
      val rank = math.ceil(p * n / 100.0).toLong
      val b = cum.find(_._2 >= rank).get._1
      p -> LogBuckets.lowerBound(b, 3)
    }.toMap
    val appro3 = Facets.percentilesApproxAgg(spark, dir.toString, terms, "or", "doc_len", logS = 3)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(appro3 == expected, s"s=3: $appro3 vs $expected")
    // the log branch must actually engage: some bucket index ≥ base
    assert(hist.exists(_._1 >= (1L << 4)), "fixture must exercise the log branch")
  }

  test("term suggester: dictionary neighbors of a misspelling, df-desc, input excluded") {
    val got = Search.suggest(spark, dir.toString, "w10x", size = 5, maxEdits = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.nonEmpty)
    assert(!got.exists(_._1 == "w10x"), "input term must be excluded")
    got.foreach { case (t, _) => assert(levenshteinDist(t, "w10x") <= 1, t) }
    // df-desc order and df values match the corpus
    val dfOf = corpus.flatMap { case (id, t) => Analyzer.tokenize(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    got.foreach { case (t, df) => assert(dfOf(t) == df, s"$t df") }
    assert(got.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)), "df desc")
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("top_hits agg ≡ exhaustive: top buckets by count, best-k per bucket by score") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    // full scored match set from the naive scorer (k = corpus size)
    val all = NaiveBm25.topK(corpus, terms, "or", corpus.size)
    val byLang = all.groupBy(h => langOf(h.docId))
    val buckets = byLang.view.mapValues(_.size.toLong).toSeq
      .sortBy { case (v, n) => (-n, v) }.take(2)
    val expected = buckets.flatMap { case (v, n) =>
      byLang(v).sortBy(h => (-h.score, h.docId)).take(3).zipWithIndex.map {
        case (h, i) => (v, n, i + 1, h.docId, math.round(h.score * 10000))
      }
    }.toSet
    val got = Facets.topHitsAgg(spark, dir.toString, terms, "or", "lang",
      size = 2, hitsPerBucket = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3),
        math.round(r.getDouble(4) * 10000))).toSet
    assert(got == expected, s"top_hits: $got vs $expected")
    // a tiny valueCap must not change results (overflow streams through)
    val capped = Facets.topHitsAgg(spark, dir.toString, terms, "or", "lang",
      size = 2, hitsPerBucket = 3, valueCap = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3),
        math.round(r.getDouble(4) * 10000))).toSet
    assert(capped == got, "valueCap=1 changed top_hits results")
  }

  test("more_like_this: tf·idf term selection + BM25, source excluded") {
    val srcId = 7L
    val srcToks = Analyzer.tokenize(corpus(srcId.toInt)._2)
    val tf = srcToks.groupBy(identity).view.mapValues(_.size).toMap
    val n = corpus.size.toLong
    val dfOf = corpus.flatMap { case (id, t) => Analyzer.tokenize(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val sel = tf.filter(_._2 >= 2).keys.toSeq.sorted
      .map(t => (t, tf(t) * NaiveBm25.idf(n, dfOf(t))))
      .sortBy { case (t, s) => (-s, t) }.take(5).map(_._1)
    assert(sel.nonEmpty, "fixture doc must have tf>=2 terms")
    val expected = NaiveBm25.topK(corpus, sel, "or", 11)
      .filterNot(_.docId == srcId).take(10)
    val got = Search.moreLikeThis(spark, dir.toString, srcId, k = 10,
      maxQueryTerms = 5, minTermFreq = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == expected.map(_.docId), s"mlt: $got vs $expected")
    expected.zip(got).foreach { case (e, (_, gs)) => assert(math.abs(gs - e.score) < 1e-9) }
  }

  test("pipeline aggs: cumulative_sum and derivative over the date histogram") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val hist = Facets.dateHistogram(spark, dir.toString, terms, "or", "day")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(hist.size >= 2, "fixture must span several day buckets")
    val cums = hist.scanLeft(0L)(_ + _._2).drop(1)
    val expCum = hist.zip(cums).map { case ((b, v), c) => (b, v, c) }
    val gotCum = Facets.cumulativeSum(spark, dir.toString, terms, "or", "day")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(gotCum == expCum, s"cumsum: $gotCum vs $expCum")
    val expDer = hist.sliding(2).collect { case Seq((_, p), (b, v)) => (b, v, v - p) }.toSeq
    val gotDer = Facets.derivative(spark, dir.toString, terms, "or", "day")
      .where(col("deriv").isNotNull)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(gotDer == expDer, s"deriv: $gotDer vs $expDer")
  }

  test("rescore: exp-decay rerank of the BM25 window; outside-window docs can't re-enter") {
    import graft.query.Rescore
    val terms = Seq("w1", "w2")
    val window = 20
    val origin = tsOf.values.max + 60000L
    val halfLife = 3600000L // 1h: strong recency pull within the window
    val windowHits = NaiveBm25.topK(corpus, terms, "or", window)
    def combined(id: Long, score: Double): Long = {
      val q = math.round(score * 10000.0) / 10000.0
      math.round(q * math.exp(-math.abs(origin - tsOf(id)).toDouble * math.log(2.0) / halfLife) * 10000.0)
    }
    val expected = windowHits.map(h => (h.docId, combined(h.docId, h.score)))
      .sortBy { case (id, c) => (-c, id) }.take(10)
    val got = Rescore.recencyTopK(spark, dir.toString, terms, "or", 10,
      window, origin, halfLife)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected, s"rescore: $got vs $expected")
    // non-vacuous: the recency rerank actually changed the order
    assert(got.map(_._1) != windowHits.take(10).map(_.docId), "decay changed nothing")
    // window contract: every result came from the BM25 top-window
    val windowIds = windowHits.map(_.docId).toSet
    assert(got.forall { case (id, _) => windowIds(id) }, "doc outside window re-entered")
  }

  test("sort-by-attribute: match set ordered by ts/doc_len; search_after pages in sort order") {
    import graft.query.SortBy
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false)
    // descending warc_ts (the newest-first event-log read)
    val expDesc = ids.sortBy(id => (-tsOf(id), id))
    val got = SortBy.topKByAttr(spark, dir.toString, terms, "or", "warc_ts", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq == expDesc.take(10), "ts desc ids")
    got.foreach { case (id, v) => assert(v == tsOf(id), s"sort value of $id") }
    // search_after: page 2 continues the same order with no gaps/overlaps
    val last = got.last
    val page2 = SortBy.topKByAttr(spark, dir.toString, terms, "or", "warc_ts", 10,
      searchAfter = (last._2, last._1))
      .collect().map(_.getLong(0))
    assert(page2.toSeq == expDesc.slice(10, 20), "ts desc page 2")
    // ascending doc_len: tie-heavy (many equal lengths) → docId tiebreak
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val expAsc = ids.sortBy(id => (dlOf(id), id)).take(10)
    val gotAsc = SortBy.topKByAttr(spark, dir.toString, terms, "or", "doc_len", 10, ascending = true)
      .collect().map(_.getLong(0))
    assert(gotAsc.toSeq == expAsc, "doc_len asc ids (tie-break)")
    // composes with filter context (sidecar predicate)
    val ruIds = matchedIds(terms, and = false).filter(id => langOf(id) == "ru")
    val gotRu = SortBy.topKByAttr(spark, dir.toString, terms, "or", "warc_ts", 10,
      attrFilter = graft.index.AttrPred.lang("ru"))
      .collect().map(_.getLong(0))
    assert(gotRu.toSeq == ruIds.sortBy(id => (-tsOf(id), id)).take(10), "filtered sort")
  }

  test("numeric histogram + match count ≡ exhaustive") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false)
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val expHist = ids.groupBy(id => (dlOf(id) / 25) * 25).view.mapValues(_.size.toLong).toMap
    val gotHist = Facets.numericHistogram(spark, dir.toString, terms, "or", "doc_len", 25L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotHist == expHist, s"histogram: $gotHist vs $expHist")
    assert(Facets.matchCount(spark, dir.toString, terms, "or") == ids.size.toLong)
    assert(Facets.matchCount(spark, dir.toString, Seq("w1", "w2"), "and") ==
      matchedIds(terms, and = true).size.toLong)
    assert(Facets.matchCount(spark, dir.toString, Seq("nosuchterm"), "or") == 0L)
    // count composes with must_not
    val exCount = matchedIds(terms, and = false)
      .count(id => !containsTerm(corpus(id.toInt)._2, Seq("w0")))
    assert(Facets.matchCount(spark, dir.toString, terms, "or", mustNot = Seq("w0")) == exCount.toLong)
  }

  test("search_after pagination walks the exhaustive ranking without gaps or overlaps") {
    val ts = Seq("w1", "w2")
    val full = NaiveBm25.topK(corpus, ts, "or", corpus.size) // whole match set, ranked
    val pages = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    var cursor: (Double, Long) = null
    var page = got(Search.topK(spark, dir.toString, ts, "or", 25))
    while (page.nonEmpty) {
      pages ++= page
      cursor = (page.last._2, page.last._1)
      page = got(Search.topK(spark, dir.toString, ts, "or", 25, searchAfter = cursor))
    }
    assert(pages.map(_._1).toSeq == full.map(_.docId).take(pages.size), "paged ids ≡ ranking prefix")
    assert(pages.size == full.size, s"walk must exhaust the match set: ${pages.size} vs ${full.size}")
    assert(pages.map(_._1).distinct.size == pages.size, "no doc served twice")
    // AND mode pages too
    val fullAnd = NaiveBm25.topK(corpus, ts, "and", corpus.size)
    if (fullAnd.size > 5) {
      val p1 = got(Search.topK(spark, dir.toString, ts, "and", 5))
      val p2 = got(Search.topK(spark, dir.toString, ts, "and", 5,
        searchAfter = (p1.last._2, p1.last._1)))
      assert((p1 ++ p2).map(_._1) == fullAnd.take(p1.size + p2.size).map(_.docId))
    }
  }

  test("explain: per-term contributions sum exactly to the ranked score") {
    val ts = Seq("w1", "w2", "w3")
    val top = got(Search.topK(spark, dir.toString, ts, "or", 5))
    val byDoc = Search.explain(spark, dir.toString, ts, top.map(_._1))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        // sum in query-term order — the scoring contract
        val contribOf = rows.map(r => r.getString(1) -> r.getDouble(5)).toMap
        id -> ts.flatMap(contribOf.get).sum
      }
    top.foreach { case (id, score) =>
      assert(math.abs(byDoc(id) - score) < 1e-12, s"explain sum for doc $id")
    }
    // tf/df surfaced match the naive analyzer's view
    val row = Search.explain(spark, dir.toString, ts, Seq(top.head._1)).collect().head
    val toks = Analyzer.tokenize(corpus(row.getLong(0).toInt)._2)
    assert(row.getLong(2) == toks.count(_ == row.getString(1)), "tf")
    assert(row.getLong(3) == toks.length, "doc_len")
  }

  test("explain: a tombstoned doc explains to no rows; live docs' rows are unchanged") {
    val root = Files.createTempDirectory("graft-explain-del")
    try {
      val idx = root.toString
      IndexBuilder.build(spark, PagesGen.pages(spark, 400, 4), idx,
        cfg.copy(nPartitions = 4, nGroups = 1, nSlices = 2))
      val ts = Seq("w1", "w2", "w3")
      val top = got(Search.topK(spark, idx, ts, "or", 5)).map(_._1)
      def rows(ids: Seq[Long]) = Search.explain(spark, idx, ts, ids).collect().map(_.toSeq).toSet
      val before = rows(top)
      assert(before.exists(_.head == top.head), "the top hit explains before the delete")
      Tombstones.delete(spark, idx, $"doc_id" === top.head)
      // ES _explain does not find a deleted doc: no query can return it
      assert(rows(Seq(top.head)).isEmpty, "a tombstoned doc explains to nothing")
      val after = rows(top)
      assert(after.nonEmpty && after == before.filter(_.head != top.head),
        "the live docs' rows are unchanged")
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("family upsert: last write wins by url (ES index-API semantics)") {
    import graft.index.SegmentFamily
    val root = Files.createTempDirectory("graft-upsert").toString
    try {
      def mkPage(url: String, text: String) =
        Page(url, new java.sql.Timestamp(1609459200000L),
          graft.sources.HtmlText.wrap(url, text), text, "en")
      val ucfg = cfg.copy(nPartitions = 4, nGroups = 1, nSlices = 2)
      // two base segments: urls a0..a9 (terms alpha+v1), b0..b9 (beta+v1)
      val segA = (0 until 10).map(i => mkPage(f"u://a$i%02d", "alpha v1 shared"))
      val segB = (0 until 10).map(i => mkPage(f"u://b$i%02d", "beta v1 shared"))
      IndexBuilder.build(spark, spark.createDataset(segA), s"$root/seg-a", ucfg)
      IndexBuilder.build(spark, spark.createDataset(segB), s"$root/seg-b", ucfg)
      SegmentFamily.append(spark, root, s"$root/seg-a")
      SegmentFamily.append(spark, root, s"$root/seg-b")

      // upsert: rewrite a3/b7 with v2 content, add fresh c0
      val batch = Seq(
        mkPage("u://a03", "alpha v2 shared"),
        mkPage("u://b07", "beta v2 shared"),
        mkPage("u://c00", "gamma v2 shared"))
      SegmentFamily.upsert(spark, root, spark.createDataset(batch), "up-1", ucfg)

      def urlsFor(terms: Seq[String], k: Int): Seq[String] = {
        val segs = SegmentFamily.read(root)
        val bases = segs.map(_.n_docs).scanLeft(0L)(_ + _)
        val hits = SegmentFamily.searcher(spark, root).topK(terms, "and", k)
          .collect().map(_.getLong(0))
        hits.map { g =>
          val si = bases.lastIndexWhere(_ <= g, bases.length - 2)
          val local = g - bases(si)
          spark.read.parquet(s"${segs(si).dir}/docs")
            .where(col("doc_id") === local).select("url").head().getString(0)
        }.toSeq
      }
      // v1 versions of rewritten urls are gone; other v1 docs remain
      val v1 = urlsFor(Seq("v1"), 50)
      assert(!v1.contains("u://a03") && !v1.contains("u://b07"), s"stale versions served: $v1")
      assert(v1.size == 18, s"18 unrewritten docs expected: ${v1.size}")
      // v2 versions and the fresh doc are served
      val v2 = urlsFor(Seq("v2"), 50)
      assert(v2.toSet == Set("u://a03", "u://b07", "u://c00"), s"$v2")
      // the shared term returns every url exactly ONCE (no duplicates)
      val shared = urlsFor(Seq("shared"), 50)
      assert(shared.size == 21 && shared.distinct.size == 21, s"${shared.sorted}")
      // idempotent re-run: same segName, same result
      SegmentFamily.upsert(spark, root, spark.createDataset(batch), "up-1", ucfg)
      assert(urlsFor(Seq("shared"), 50).size == 21, "re-run changed the family")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("upsert + compaction: tombstones survive fastMerge (no resurrection)") {
    // ADVICE r3 (high): fastMerge used to drop input tombstones — after
    // maybeCompact over an upserted family, stale doc versions came back
    // (duplicate urls, broken last-write-wins). This drives exactly that
    // path: upsert (marks old versions deleted) → compact → re-query.
    import graft.index.SegmentFamily
    val root = Files.createTempDirectory("graft-upsert-compact").toString
    try {
      def mkPage(url: String, text: String) =
        Page(url, new java.sql.Timestamp(1609459200000L),
          graft.sources.HtmlText.wrap(url, text), text, "en")
      val ucfg = cfg.copy(nPartitions = 4, nGroups = 1, nSlices = 2)
      val segA = (0 until 10).map(i => mkPage(f"u://a$i%02d", "alpha v1 shared"))
      val segB = (0 until 10).map(i => mkPage(f"u://b$i%02d", "beta v1 shared"))
      IndexBuilder.build(spark, spark.createDataset(segA), s"$root/seg-a", ucfg)
      IndexBuilder.build(spark, spark.createDataset(segB), s"$root/seg-b", ucfg)
      SegmentFamily.append(spark, root, s"$root/seg-a")
      SegmentFamily.append(spark, root, s"$root/seg-b")
      val batch = Seq(
        mkPage("u://a03", "alpha v2 shared"),
        mkPage("u://b07", "beta v2 shared"),
        mkPage("u://c00", "gamma v2 shared"))
      SegmentFamily.upsert(spark, root, spark.createDataset(batch), "up-1", ucfg)

      def urlsFor(terms: Seq[String], k: Int): Seq[String] = {
        val segs = SegmentFamily.read(root)
        val bases = segs.map(_.n_docs).scanLeft(0L)(_ + _)
        val hits = SegmentFamily.searcher(spark, root).topK(terms, "and", k)
          .collect().map(_.getLong(0))
        hits.map { g =>
          val si = bases.lastIndexWhere(_ <= g, bases.length - 2)
          val local = g - bases(si)
          spark.read.parquet(s"${segs(si).dir}/docs")
            .where(col("doc_id") === local).select("url").head().getString(0)
        }.toSeq
      }
      val before = urlsFor(Seq("shared"), 50).sorted

      // compaction 1: the two 10-doc base segments fold (both hold live
      // tombstones for the upserted urls)
      SegmentFamily.maybeCompact(spark, root, mergeFactor = 2, tierFactor = 1.5)
      assert(SegmentFamily.read(root).size == 2,
        s"expected [gen(20), up-1(3)]: ${SegmentFamily.read(root)}")
      assert(urlsFor(Seq("shared"), 50).sorted == before, "compaction changed results")
      val v1 = urlsFor(Seq("v1"), 50)
      assert(!v1.contains("u://a03") && !v1.contains("u://b07"),
        s"stale versions resurrected by fastMerge: $v1")
      assert(v1.size == 18, s"${v1.size}")

      // compaction 2: fold EVERYTHING (a merged segment that itself
      // carries imported tombstones merges again — gen-over-gen carry)
      SegmentFamily.maybeCompact(spark, root, mergeFactor = 2, tierFactor = 10.0)
      assert(SegmentFamily.read(root).size == 1)
      assert(urlsFor(Seq("shared"), 50).sorted == before, "second compaction changed results")
      assert(urlsFor(Seq("v2"), 50).toSet == Set("u://a03", "u://b07", "u://c00"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("SegmentMerge.merge carries tombstones (rebuild-merge path)") {
    import graft.index.SegmentMerge
    val root = Files.createTempDirectory("graft-merge-tomb").toString
    try {
      def mkPage(url: String, text: String) =
        Page(url, new java.sql.Timestamp(1609459200000L),
          graft.sources.HtmlText.wrap(url, text), text, "en")
      val ucfg = cfg.copy(nPartitions = 4, nGroups = 1, nSlices = 2)
      // url ranges disjoint and ordered (a* < b*) so merge ≡ union build
      val segA = (0 until 8).map(i => mkPage(f"u://a$i%02d", s"alpha shared tok$i"))
      val segB = (0 until 8).map(i => mkPage(f"u://b$i%02d", s"beta shared tok$i"))
      IndexBuilder.build(spark, spark.createDataset(segA), s"$root/A", ucfg)
      IndexBuilder.build(spark, spark.createDataset(segB), s"$root/B", ucfg)
      Tombstones.deleteByUrls(spark, s"$root/A", Seq("u://a02", "u://a05").toDS())
      Tombstones.deleteByUrls(spark, s"$root/B", Seq("u://b01").toDS())

      SegmentMerge.merge(spark, s"$root/A", s"$root/B", s"$root/M", ucfg)
      assert(Tombstones.count(s"$root/M") == 3L, "tombstones lost in merge()")
      val hits = Search.topK(spark, s"$root/M", Seq("shared"), "or", 50)
      val urls = Search.hydrate(spark, s"$root/M", hits)
        .select("url").collect().map(_.getString(0)).toSet
      assert(!urls.contains("u://a02") && !urls.contains("u://a05") && !urls.contains("u://b01"),
        s"deleted docs resurrected: $urls")
      assert(urls.size == 13, s"${urls.size}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("top_metrics: metric fields ride the sort heap; values exact per hit") {
    import graft.query.SortBy
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false)
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val exp = ids.sortBy(id => (-tsOf(id), id)).take(10)
      .map(id => (id, tsOf(id), dlOf(id)))
    val got = SortBy.topKByAttr(spark, dir.toString, terms, "or", "warc_ts", 10,
      metricFields = Seq("doc_len"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp, s"top_metrics: $got vs $exp")
    // undeclared metric field fails loudly, not with garbage values
    intercept[Exception] {
      SortBy.topKByAttr(spark, dir.toString, terms, "or", "warc_ts", 10,
        metricFields = Seq("nope")).collect()
    }
  }

  test("median_absolute_deviation ≡ exhaustive nearest-rank") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val vs = matchedIds(terms, and = false).map(dlOf).sorted
    def nearestRank(xs: Seq[Long]): Long = xs(math.ceil(xs.size / 2.0).toInt - 1)
    val m = nearestRank(vs)
    val mad = nearestRank(vs.map(v => math.abs(v - m)).sorted)
    val got = Facets.medianAbsoluteDeviationAgg(spark, dir.toString, terms, "or", "doc_len")
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == (vs.size.toLong, m, mad),
      s"mad: $got vs (${vs.size}, $m, $mad)")
    // empty match set: null metrics, zero count (the ES null shape)
    val empty = Facets.medianAbsoluteDeviationAgg(spark, dir.toString, Seq("nosuchterm"), "or", "doc_len")
      .collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1) && empty.isNullAt(2))
  }

  test("median_absolute_deviation: the driver collect is capped, and above the cap it fails naming the field") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val distinct = matchedIds(terms, and = false).map(dlOf).distinct.size
    def mad(cap: Int) =
      Facets.medianAbsoluteDeviationAgg(spark, dir.toString, terms, "or", "doc_len", null, Nil, 1, cap)
        .collect().head
    assert(mad(distinct) == Facets.medianAbsoluteDeviationAgg(spark, dir.toString, terms, "or", "doc_len")
      .collect().head)
    val e = intercept[IllegalArgumentException](mad(distinct - 1))
    assert(e.getMessage.contains("doc_len") && e.getMessage.contains("percentilesApproxAgg"), e.getMessage)
  }

  test("rare_terms: long-tail buckets ≤ max_doc_count, count-asc; cut is post-combine") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false)
    val counts = ids.groupBy(langOf).view.mapValues(_.size.toLong).toMap
    val cap = counts.values.toSeq.sorted.apply(counts.size / 2) // median count: some in, some out
    val exp = counts.filter(_._2 <= cap).toSeq.sortBy { case (l, n) => (n, l) }
    val got = Facets.rareTermsAgg(spark, dir.toString, terms, "or", maxDocCount = cap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exp, s"rare_terms: $got vs $exp")
    assert(exp.nonEmpty && exp.size < counts.size, "fixture must cut somewhere")
  }

  test("weighted_avg ≡ exhaustive Σvw/Σw") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val vs = matchedIds(terms, and = false).map(dlOf)
    val (svw, sw) = (vs.map(v => v * v).sum, vs.sum) // weight = value field itself
    val got = Facets.weightedAvgAgg(spark, dir.toString, terms, "or", "doc_len", "doc_len")
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == (vs.size.toLong, svw, sw))
    assert(math.abs(got.getDouble(3) - svw.toDouble / sw) < 1e-12)
  }

  test("matrix_stats: six exact sums, self-pair corr = 1, epoch-scale overflow is loud") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val dlOf = corpus.map { case (id, t) => id -> Analyzer.tokenCount(t).toLong }.toMap
    val vs = matchedIds(terms, and = false).map(dlOf)
    val r = Facets.matrixStatsAgg(spark, dir.toString, terms, "or", "doc_len", "doc_len")
      .collect().head
    assert(r.getLong(0) == vs.size.toLong && r.getLong(1) == vs.sum &&
      r.getLong(2) == vs.map(v => v * v).sum && r.getLong(5) == vs.map(v => v * v).sum)
    assert(math.abs(r.getDouble(r.fieldIndex("corr")) - 1.0) < 1e-9, "self-correlation must be 1")
    // Σ(warc_ts²) exceeds Long range: must throw, never wrap silently
    intercept[org.apache.spark.SparkException] {
      Facets.matrixStatsAgg(spark, dir.toString, terms, "or", "warc_ts", "warc_ts").collect()
    }
  }

  test("bucket_selector/bucket_sort: HAVING + re-order/paginate over bucket frames") {
    import graft.query.Facets
    import org.apache.spark.sql.functions.{asc, desc, col}
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false)
    val counts = ids.groupBy(langOf).view.mapValues(_.size.toLong).toMap
    val cap = counts.values.max - 1 // drop at least the hottest bucket
    val exp = counts.filter(_._2 <= cap).toSeq.sortBy { case (l, n) => (-n, l) }.slice(1, 3)
    val buckets = Facets.termsAgg(spark, dir.toString, terms, "or")
    val got = Facets.bucketSort(
      Facets.bucketSelector(buckets, col("n_docs") <= cap),
      Seq(desc("n_docs"), asc("lang")), from = 1, size = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exp, s"bucket pipeline: $got vs $exp")
  }

  test("date_range: half-open date-math buckets over warc_ts ≡ exhaustive") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false)
    val tsAll = ids.map(tsOf)
    val lo = tsAll.min
    val nowMs = tsAll.max + 1
    val b1 = lo + (nowMs - lo) / 3
    val b2 = lo + 2 * (nowMs - lo) / 3
    val iso1 = java.time.Instant.ofEpochMilli(b1).toString
    val iso2 = java.time.Instant.ofEpochMilli(b2).toString
    val got = Facets.dateRangeAgg(spark, dir.toString, terms, "or",
      boundaries = Seq(iso1, iso2), nowMs = nowMs)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    def bucketOf(ts: Long): Long = (if (ts >= b1) 1 else 0) + (if (ts >= b2) 1 else 0)
    val exp = tsAll.groupBy(bucketOf).view.mapValues(_.size.toLong).toMap
    assert(got == exp, s"date_range: $got vs $exp")
  }

  test("matchIds streams the exact match set; composes with filter context") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val got = Facets.matchIds(spark, dir.toString, terms, "or")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == matchedIds(terms, and = false).sorted, "plain match set")
    val gotRu = Facets.matchIds(spark, dir.toString, terms, "or",
      attrFilter = graft.index.AttrPred.lang("ru"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotRu == matchedIds(terms, and = false).filter(id => langOf(id) == "ru").sorted)
  }

  test("significant_text ≡ exhaustive JLH over match-set tokens") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val ids = matchedIds(terms, and = false).toSet
    val fgt = ids.size.toDouble
    val bgt = corpus.size.toDouble
    val fg = corpus.filter { case (id, _) => ids(id) }
      .flatMap { case (_, t) => Analyzer.tokenize(t).distinct }
      .groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2L).toMap
    val bg = corpus.flatMap { case (_, t) => Analyzer.tokenize(t).distinct }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val exp = fg.toSeq
      .filterNot { case (t, _) => terms.contains(t) }
      .flatMap { case (t, f) =>
        val (fp, bp) = (f / fgt, bg(t) / bgt)
        if (fp > bp) Some((t, f, bg(t), math.round((fp - bp) * (fp / bp) * 10000.0)))
        else None
      }
      .sortBy { case (t, _, _, s) => (-s, t) }.take(10)
    val got = Facets.significantText(spark, dir.toString, terms, "or", size = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == exp, s"significant_text:\n$got\nvs\n$exp")
  }

  test("sampler terms agg: buckets over ONLY the top-k sample") {
    import graft.query.Facets
    val terms = Seq("w1", "w2")
    val sample = NaiveBm25.topK(corpus, terms, "or", 50).map(_.docId)
    val exp = sample.groupBy(langOf).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (l, n) => (-n, l) }
    val got = Facets.samplerTermsAgg(spark, dir.toString, terms, "or", shardSize = 50)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exp, s"sampler: $got vs $exp")
    assert(sample.size < matchedIds(terms, and = false).size,
      "fixture: the sample must be a strict subset of the match set")
  }

  test("terms_set: per-doc minimum_should_match from a declared numeric attr") {
    val root = Files.createTempDirectory("graft-termsset").toString
    val segs = Files.createTempDirectory("graft-termsset-segs").toString
    try {
      val texts = Seq(
        "alpha beta gamma pad", "alpha pad pad pad", "beta gamma pad pad",
        "alpha beta pad pad", "gamma pad pad pad", "alpha beta gamma delta",
        "pad pad pad pad", "alpha gamma pad pad", "beta pad pad pad",
        "alpha beta gamma pad", "alpha pad pad pad", "beta gamma pad pad")
      val pages = texts.zipWithIndex.map { case (t, i) =>
        Page(f"doc://$i%012d", new java.sql.Timestamp(1609459200000L + i * 1000L),
          graft.sources.HtmlText.wrap(f"doc://$i%012d", t), t, "en")
      }
      val ucfg = cfg.copy(nPartitions = 4, nGroups = 1, nSlices = 2,
        attrs = graft.index.AttrSchema.Default :+
          graft.index.AttrSpec("req", graft.index.AttrSchema.Num,
            "1 + CAST(substring(url, 7, 12) AS BIGINT) % 3"))
      IndexBuilder.build(spark, spark.createDataset(pages), root, ucfg)
      val terms = Seq("alpha", "beta", "gamma")
      def matchedCount(t: String): Int = terms.count(t.split(" ").contains)
      val expIds = texts.zipWithIndex.collect {
        case (t, i) if matchedCount(t) >= 1 + i % 3 => i.toLong
      }.toSet
      val mini = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val expScores = NaiveBm25.topK(mini, terms, "or", texts.size)
        .filter(h => expIds(h.docId))
        .map(h => (h.docId, math.round(h.score * 10000)))
        .sortBy { case (id, s) => (-s, id) }
      val got = Search.topK(spark, root, terms, "or", texts.size, msmField = "req")
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 10000))).toSeq
        .sortBy { case (id, s) => (-s, id) }
      assert(got == expScores, s"terms_set: $got vs $expScores")
      assert(expIds.nonEmpty && expIds.size < texts.size, "fixture must discriminate")
      // the same corpus as two url-ordered segments: each segment reads
      // the required count from its own sidecar, ids and scores unchanged
      val half = pages.size / 2
      IndexBuilder.build(spark, spark.createDataset(pages.take(half)), s"$segs/A", ucfg)
      IndexBuilder.build(spark, spark.createDataset(pages.drop(half)), s"$segs/B", ucfg)
      val single = Search.topK(spark, root, terms, "or", texts.size, msmField = "req")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fam = new MultiSearcher(spark, Seq(s"$segs/A", s"$segs/B"))
        .topK(terms, "or", texts.size, msmField = "req")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(fam.map(_._1) == single.map(_._1), s"family terms_set ids: $fam vs $single")
      fam.zip(single).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9, "family terms_set score") }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
      new Directory(new java.io.File(segs)).deleteRecursively()
    }
  }

  test("phrase suggester: bigram LM with stupid backoff over index stats") {
    val root = Files.createTempDirectory("graft-psuggest").toString
    try {
      def mk(i: Int, t: String) =
        Page(f"doc://$i%012d", new java.sql.Timestamp(1609459200000L + i * 1000L),
          graft.sources.HtmlText.wrap(f"doc://$i%012d", t), t, "en")
      val pages =
        (0 until 10).map(i => mk(i, "quick fox runs")) ++
          (10 until 12).map(i => mk(i, "quicc fox naps")) ++
          (12 until 15).map(i => mk(i, "fix it now"))
      val ucfg = cfg.copy(nPartitions = 4, nGroups = 1, nSlices = 2)
      IndexBuilder.build(spark, spark.createDataset(pages), root, ucfg)
      assert(Search.phraseCount(spark, root, Seq("quick", "fox")) == 10L)
      assert(Search.phraseCount(spark, root, Seq("quicc", "fix")) == 0L)
      val got = Search.phraseSuggest(spark, root, Seq("quicc", "fox"), size = 5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val bigT = 45.0
      val expQuickFox = math.round((math.log(10.0 / bigT) + math.log(10.0 / 10.0)) * 1e6)
      val expQuiccFix = math.round(
        (math.log(2.0 / bigT) + math.log(0.4 * 3.0 / bigT)) * 1e6)
      assert(got == Seq(("quick fox", expQuickFox), ("quicc fix", expQuiccFix)),
        s"phrase suggest: $got")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("exclusion iterators skip blocks: PostingSet advances monotonically") {
    // build a tiny posting iter over synthetic blocks and probe it as a set
    val ids = Array(5L, 8L, 13L, 21L, 34L)
    val enc = graft.functions.Codec.encodeGapsFromBase(ids)
    val tfs = graft.functions.Codec.encodeIntsAuto(Array.fill(ids.length)(1))
    val dls = graft.functions.Codec.encodeIntsAuto(Array.fill(ids.length)(10))
    val ref = BlockMaxWand.BlockRef(ids.head, ids.last, ids.length, enc, tfs, dls, Array.empty[Byte], 1.0)
    val set = new PostingSet(Array(new PostingIter(0, 0.0, Array(ref), 10.0)))
    assert(!set.matches(4L) && set.matches(5L) && !set.matches(6L) && set.matches(13L) && set.matches(34L) && !set.matches(35L))
  }
}
