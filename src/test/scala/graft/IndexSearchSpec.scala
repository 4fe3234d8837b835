package graft

import java.nio.file.{Files, Path}
import scala.util.Try
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.Analyzer
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.query.{NaiveBm25, Search}
import graft.sources.PagesGen

/** End-to-end: build the index over the deterministic synthetic corpus,
  * then verify BM25 top-10 rank identity (docIDs AND scores) against the
  * in-repo naive oracle — the stand-in for the reference's Elasticsearch
  * scoring (SURVEY.md §5.3) — plus resumability and docID determinism.
  */
class IndexSearchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = TestSpark.spark
  private val NDocs = 3000L
  private var dir: Path = _
  private var titleDir: Path = _
  private var corpus: Seq[(Long, String)] = _ // doc_id -> text per index docID

  private def titleOf(t: String): String = IndexSearchSpec.titleOf(t)
  private def titleCorpus = corpus.map { case (id, t) => (id, titleOf(t)) }
  private def titlePages(pred: Page => Boolean) = IndexSearchSpec.titlePages(NDocs, pred)

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("graft-index")
    val pages = PagesGen.pages(spark, NDocs, 8)
    IndexBuilder.build(spark, pages, dir.toString, BuildConfig(nPartitions = 16, nGroups = 3, nSlices = 6, blockSize = 64))
    // second analyzed field over the SAME urls — shared docID space
    titleDir = Files.createTempDirectory("graft-title")
    IndexBuilder.build(spark, titlePages(_ => true), titleDir.toString,
      BuildConfig(nPartitions = 16, nGroups = 3, nSlices = 6, blockSize = 64))
    // reconstruct the oracle corpus with the engine's own docID mapping
    // (docID = url sort rank — recomputed independently here)
    val byUrl = (0L until NDocs).map { i =>
      val p = PagesGen.pageFor(i)
      (p.url, p.text)
    }.sortBy(_._1)
    corpus = byUrl.zipWithIndex.map { case ((_, text), id) => (id.toLong, text) }
  }

  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(dir.toFile).deleteRecursively()
    new Directory(titleDir.toFile).deleteRecursively()
  }

  /** The reference query set (FIXTURES.md §2): hot/rare/absent, and/or. */
  private val queries: Seq[(Seq[String], String)] = Seq(
    (Seq("w0"), "or"), // hottest term
    (Seq("w1", "w2"), "or"),
    (Seq("w1", "w2"), "and"),
    (Seq("w0", "w4999"), "or"), // hot + rare
    (Seq("w0", "w4999"), "and"),
    (Seq("rareterm7"), "or"), // injected rare term
    (Seq("rareterm7", "w3"), "and"),
    (Seq("nosuchterm"), "or"), // absent
    (Seq("nosuchterm", "w1"), "and"), // absent in AND → empty
    (Seq("nosuchterm", "w1"), "or"),
    (Seq("привет", "мир"), "and"), // cyrillic
    (Seq("w10", "w20", "w30", "w40"), "or"),
    (Seq("w10", "w20", "w30"), "and")
  )

  test("docID assignment matches url sort rank (parallelism-independent)") {
    val docs = IndexBuilder.readDocs(spark, dir.toString).collect().sortBy(_.doc_id)
    assert(docs.length == NDocs)
    val expected = corpus.map(_._1)
    assert(docs.map(_.doc_id).toSeq == expected)
    // spot-check: doc_len = token count of its text
    docs.take(100).foreach { d =>
      val text = corpus(d.doc_id.toInt)._2
      assert(d.doc_len == Analyzer.tokenize(text).length, s"doc ${d.doc_id}")
    }
  }

  test("corpus stats match oracle") {
    val st = IndexBuilder.readStats(spark, dir.toString)
    assert(st.n_docs == NDocs)
    val dls = corpus.map { case (_, t) => Analyzer.tokenize(t).length.toLong }
    assert(st.total_tokens == dls.sum)
    assert(math.abs(st.avg_dl - dls.sum.toDouble / NDocs) < 1e-9)
  }

  test("BM25 top-10: rank-identical docIDs and scores vs naive oracle") {
    queries.foreach { case (terms, mode) =>
      val expected = NaiveBm25.topK(corpus, terms, mode, 10)
      val got = Search.topK(spark, dir.toString, terms, mode, 10)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == expected.length, s"$terms/$mode size")
      expected.zip(got).zipWithIndex.foreach { case ((e, (gid, gs)), rank) =>
        assert(gid == e.docId, s"$terms/$mode rank $rank docId: got $gid want ${e.docId}")
        assert(math.abs(gs - e.score) < 1e-9, s"$terms/$mode rank $rank score")
      }
    }
  }

  test("filtered BM25: keyword/date predicates rank-identical to filtered oracle") {
    import org.apache.spark.sql.functions.{col, lit}
    // doc attributes keyed by the engine's docID (url sort rank)
    val byUrl = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOf = byUrl.map(_.lang).toArray
    val tsOf = byUrl.map(_.warc_ts).toArray
    val cut = tsOf.sortBy(_.getTime).apply(NDocs.toInt / 3)
    val cases: Seq[(Seq[String], String, org.apache.spark.sql.Column, Long => Boolean)] = Seq(
      (Seq("w1", "w2"), "or", col("lang") === "ru", id => langOf(id.toInt) == "ru"),
      (Seq("w0"), "or", col("lang") === "de", id => langOf(id.toInt) == "de"),
      (Seq("w1", "w2"), "and", col("warc_ts") < lit(cut),
        id => tsOf(id.toInt).before(cut)),
      (Seq("w0", "w3"), "or",
        col("lang") === "ru" && col("warc_ts") >= lit(cut),
        id => langOf(id.toInt) == "ru" && !tsOf(id.toInt).before(cut)),
      (Seq("w0"), "or", col("lang") === "zz", _ => false) // empty allow-list
    )
    cases.foreach { case (terms, mode, pred, allow) =>
      val expected = NaiveBm25.topKFiltered(corpus, terms, mode, 10, allow)
      val got = Search.topK(spark, dir.toString, terms, mode, 10, docFilter = pred)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == expected.length, s"$terms/$mode/$pred size: ${got.length} vs ${expected.length}")
      expected.zip(got).zipWithIndex.foreach { case ((e, (gid, gs)), rank) =>
        assert(gid == e.docId, s"$terms/$mode rank $rank docId: got $gid want ${e.docId}")
        assert(math.abs(gs - e.score) < 1e-9, s"$terms/$mode rank $rank score")
      }
      // filtered scores must equal UNfiltered scores for the same docs
      // (filter context never changes scoring — ES semantics)
      val unfiltered = NaiveBm25.topK(corpus, terms, mode, NDocs.toInt)
        .map(s => s.docId -> s.score).toMap
      got.foreach { case (id, sc) =>
        assert(math.abs(sc - unfiltered(id)) < 1e-12, s"score of $id changed under filter")
      }
    }
  }

  test("sidecar filter context: no-exchange path rank-identical to allow-list path and oracle") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.index.AttrPred
    val byUrl = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOf = byUrl.map(_.lang).toArray
    val tsOf = byUrl.map(_.warc_ts).toArray
    val cut = tsOf.sortBy(_.getTime).apply(NDocs.toInt / 3)
    val cases: Seq[(Seq[String], String, AttrPred, Long => Boolean)] = Seq(
      (Seq("w1", "w2"), "or", AttrPred.lang("ru"), id => langOf(id.toInt) == "ru"),
      (Seq("w1", "w2"), "and", AttrPred.TsRange(Long.MinValue, cut.getTime),
        id => tsOf(id.toInt).before(cut)),
      (Seq("w0", "w3"), "or",
        AttrPred.And(Seq(AttrPred.lang("ru"), AttrPred.TsRange(cut.getTime, Long.MaxValue))),
        id => langOf(id.toInt) == "ru" && !tsOf(id.toInt).before(cut)),
      (Seq("w0"), "or", AttrPred.LangIn(Set("de", "fr")),
        id => langOf(id.toInt) == "de" || langOf(id.toInt) == "fr"),
      (Seq("w0"), "or", AttrPred.Not(AttrPred.lang("en")), id => langOf(id.toInt) != "en"),
      // schema-driven numeric field beyond warc_ts (declared default
      // doc_len): ES numeric-range filter via the same sidecar path
      (Seq("w1", "w2"), "or", AttrPred.NumRange("doc_len", 50, 150),
        id => {
          val dl = graft.functions.Analyzer.tokenCount(corpus(id.toInt)._2)
          dl >= 50 && dl < 150
        }),
      // BROAD filter (the regime the old allow-list shipped TBs for):
      // ~all docs pass — sidecar must stay correct, not just fast
      (Seq("w1", "w2"), "or", AttrPred.TsRange(0L, Long.MaxValue), _ => true),
      (Seq("w0"), "or", AttrPred.lang("zz"), _ => false) // empty
    )
    cases.foreach { case (terms, mode, pred, allow) =>
      val expected = NaiveBm25.topKFiltered(corpus, terms, mode, 10, allow)
      val got = Search.topK(spark, dir.toString, terms, mode, 10, attrFilter = pred)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == expected.length, s"$terms/$mode/$pred size: ${got.length} vs ${expected.length}")
      expected.zip(got).zipWithIndex.foreach { case ((e, (gid, gs)), rank) =>
        assert(gid == e.docId, s"$terms/$mode/$pred rank $rank docId: got $gid want ${e.docId}")
        assert(math.abs(gs - e.score) < 1e-9, s"$terms/$mode/$pred rank $rank score")
      }
    }
    // phrase + sidecar
    val expP = NaiveBm25.phraseTopK(corpus, Seq("w0", "w1"), 10, id => langOf(id.toInt) == "en")
    val gotP = Search.phraseTopK(spark, dir.toString, Seq("w0", "w1"), 10,
      attrFilter = AttrPred.lang("en"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotP.map(_._1).toSeq == expP.map(_.docId), "phrase+sidecar ids")
    // MultiSearcher single-segment + sidecar ≡ Search + sidecar
    val gotM = new graft.query.MultiSearcher(spark, Seq(dir.toString))
      .topK(Seq("w1", "w2"), "or", 10, attrFilter = AttrPred.lang("ru"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expM = NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 10, id => langOf(id.toInt) == "ru")
    assert(gotM.map(_._1).toSeq == expM.map(_.docId), "multisearcher+sidecar ids")
  }

  test("batched Searcher: per-query filter context from the sidecar") {
    import graft.index.AttrPred
    val byUrl = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOf = byUrl.map(_.lang).toArray
    val searcher = new graft.query.Searcher(spark, dir.toString)
    val batch = Seq(
      graft.query.Searcher.BatchQuery(0L, Seq("w1", "w2"), "or"), // unfiltered
      graft.query.Searcher.BatchQuery(1L, Seq("w1", "w2"), "or", AttrPred.lang("ru")),
      graft.query.Searcher.BatchQuery(2L, Seq("w0"), "and", AttrPred.lang("de"))
    )
    val got = searcher.topKBatch(batch, 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .groupBy(_._1)
    val exps = Seq(
      NaiveBm25.topK(corpus, Seq("w1", "w2"), "or", 10),
      NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 10, id => langOf(id.toInt) == "ru"),
      NaiveBm25.topKFiltered(corpus, Seq("w0"), "and", 10, id => langOf(id.toInt) == "de")
    )
    exps.zipWithIndex.foreach { case (expected, qi) =>
      val rows = got.getOrElse(qi.toLong, Array.empty).sortBy(_._2)
      assert(rows.length == expected.length, s"batch q$qi size")
      expected.zip(rows).foreach { case (e, (_, _, gid, gs)) =>
        assert(gid == e.docId && math.abs(gs - e.score) < 1e-9, s"batch q$qi")
      }
    }
    // every term path agrees to the score bit, must_not and msm composed
    // with the materialized allow-lists
    val paths = batch ++ Seq(
      graft.query.Searcher.BatchQuery(3L, Seq("w1", "w2", "w3"), "or", AttrPred.lang("ru"),
        mustNot = Seq("w4"), minShouldMatch = 2),
      graft.query.Searcher.BatchQuery(4L, Seq("w0"), "or", AttrPred.lang("de"), mustNot = Seq("w1", "w2")),
      graft.query.Searcher.BatchQuery(5L, Seq("w1", "w2"), "and", AttrPred.Not(AttrPred.lang("en")),
        mustNot = Seq("nosuchterm")))
    assert(IndexSearchSpec.assertSamePaths(dir.toString, paths) == paths.size)
  }

  test("batched Searcher: many distinct BROAD predicates stream under a tiny allow-list cap") {
    // r3 verdict task 6: a batch of Q broad filters must not materialize
    // Q × matches-per-slice ids. Cap forced to 16 ids → every predicate
    // here (thousands of matches) takes the per-query streaming-cursor
    // path; results must be identical to the materialized path.
    import graft.index.AttrPred
    val byUrl = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val tsOf = byUrl.map(_.warc_ts.getTime).toArray
    val tsSorted = tsOf.sorted
    val capped = new graft.query.Searcher(spark, dir.toString, attrAllowListCap = 16)
    // 12 DISTINCT broad ts-range predicates (distinct bounds defeat the
    // per-predicate dedup cache) + one selective predicate (≤ cap) that
    // still takes the materialized path
    val batch = (0 until 12).map { i =>
      val lo = tsSorted(i * 7) // broad: nearly the whole corpus
      graft.query.Searcher.BatchQuery(i.toLong, Seq("w1", "w2"), "or",
        attr = AttrPred.TsRange(lo, Long.MaxValue))
    } :+ graft.query.Searcher.BatchQuery(12L, Seq("w0"), "or",
      attr = AttrPred.TsRange(tsSorted(0), tsSorted(8))) // selective
    val got = capped.topKBatch(batch, 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .groupBy(_._1)
    batch.foreach { q =>
      val pred = q.attr.asInstanceOf[AttrPred.NumRange]
      val expected = NaiveBm25.topKFiltered(corpus, q.terms, q.mode, 10,
        id => tsOf(id.toInt) >= pred.lo && tsOf(id.toInt) < pred.hi)
      val rows = got.getOrElse(q.qid, Array.empty).sortBy(_._2)
      assert(rows.length == expected.length, s"broad-batch q${q.qid} size")
      expected.zip(rows).foreach { case (e, (_, _, gid, gs)) =>
        assert(gid == e.docId && math.abs(gs - e.score) < 1e-9, s"broad-batch q${q.qid}")
      }
    }
    // streamed and materialized filters, with must_not and msm, agree to
    // the score bit with the driver-local walk and a view's top-k
    val paths = batch.take(3) ++ batch.takeRight(1) ++ batch.take(3).map(q =>
      q.copy(qid = q.qid + 100, terms = Seq("w1", "w2", "w3"), mustNot = Seq("w4"), minShouldMatch = 2))
    assert(IndexSearchSpec.assertSamePaths(dir.toString, paths, allowListCap = 16) == paths.size)
  }

  test("phrase top-k: rank-identical to naive phrase oracle (incl. dup terms, filters)") {
    import org.apache.spark.sql.functions.col
    val byUrl = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOf = byUrl.map(_.lang).toArray
    val phrases: Seq[Seq[String]] = Seq(
      Seq("w0", "w1"), Seq("w1", "w0"), Seq("w2", "w0", "w1"),
      Seq("w0", "w0"), // duplicated term: idf counted per occurrence
      Seq("w0"), // single-term phrase ≡ tf-scored term query
      Seq("nosuchterm", "w1") // absent term → empty
    )
    var nonEmpty = 0
    phrases.foreach { p =>
      val expected = NaiveBm25.phraseTopK(corpus, p, 10)
      val got = Search.phraseTopK(spark, dir.toString, p, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == expected.length, s"phrase $p size: ${got.length} vs ${expected.length}")
      if (got.nonEmpty) nonEmpty += 1
      expected.zip(got).zipWithIndex.foreach { case ((e, (gid, gs)), rank) =>
        assert(gid == e.docId, s"phrase $p rank $rank docId: got $gid want ${e.docId}")
        assert(math.abs(gs - e.score) < 1e-9, s"phrase $p rank $rank score")
      }
    }
    assert(nonEmpty >= 2, "phrase coverage too trivial — corpus has no matching phrases")
    // filtered phrase
    val expectedF = NaiveBm25.phraseTopK(corpus, Seq("w0", "w1"), 10, id => langOf(id.toInt) == "en")
    val gotF = Search.phraseTopK(spark, dir.toString, Seq("w0", "w1"), 10, docFilter = col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotF.map(_._1).toSeq == expectedF.map(_.docId))
  }

  test("fielded search (most_fields, per-field stats + boosts) matches naive oracle") {
    import graft.query.FieldedSearch
    Seq(Seq("w0", "w1"), Seq("w3", "w7", "w11"), Seq("nosuchterm", "w2")).foreach { terms =>
      val expected = NaiveBm25.fieldedTopK(
        Seq((titleCorpus, 2.0), (corpus, 1.0)), terms, 10)
      val got = FieldedSearch.topK(
        spark,
        Seq(FieldedSearch.Field("title", titleDir.toString, 2.0),
          FieldedSearch.Field("body", dir.toString, 1.0)),
        terms, 10
      ).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == expected.length, s"fielded $terms size")
      expected.zip(got).zipWithIndex.foreach { case ((e, (gid, gs)), rank) =>
        assert(gid == e.docId, s"fielded $terms rank $rank docId: got $gid want ${e.docId}")
        assert(math.abs(gs - e.score) < 1e-9, s"fielded $terms rank $rank score")
      }
    }
    // fielded + filter context (ES bool{must: multi_match, filter: term})
    val byUrl2 = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOf2 = byUrl2.map(_.lang).toArray
    val expF = NaiveBm25.fieldedTopK(
      Seq((titleCorpus, 2.0), (corpus, 1.0)), Seq("w0", "w1"), 10,
      allowed = id => langOf2(id.toInt) == "ru")
    val gotF = FieldedSearch.topK(
      spark,
      Seq(FieldedSearch.Field("title", titleDir.toString, 2.0),
        FieldedSearch.Field("body", dir.toString, 1.0)),
      Seq("w0", "w1"), 10,
      docFilter = org.apache.spark.sql.functions.col("lang") === "ru"
    ).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotF.map(_._1).toSeq == expF.map(_.docId), "fielded+filtered ids")
    expF.zip(gotF).foreach { case (e, (_, gs)) => assert(math.abs(gs - e.score) < 1e-9) }
    // the same filter as a sidecar predicate
    val gotA = FieldedSearch.topK(
      spark,
      Seq(FieldedSearch.Field("title", titleDir.toString, 2.0),
        FieldedSearch.Field("body", dir.toString, 1.0)),
      Seq("w0", "w1"), 10,
      attrFilter = graft.index.AttrPred.lang("ru")
    ).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotA.map(_._1).toSeq == expF.map(_.docId), "fielded+sidecar ids")
    expF.zip(gotA).foreach { case (e, (_, gs)) => assert(math.abs(gs - e.score) < 1e-9) }
  }

  test("combined_fields composes tombstones: deleted docs never surface (r6 fix)") {
    import graft.query.FieldedSearch
    import spark.implicits._
    val bodyDel = Files.createTempDirectory("graft-cfdel-body")
    val titleDel = Files.createTempDirectory("graft-cfdel-title")
    try {
      val nd = 300L
      val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32)
      IndexBuilder.build(spark, PagesGen.pages(spark, nd, 4), bodyDel.toString, cfg)
      IndexBuilder.build(spark, IndexSearchSpec.titlePages(nd, _ => true), titleDel.toString, cfg)
      val fields = Seq(
        FieldedSearch.Field("title", titleDel.toString, 2.0),
        FieldedSearch.Field("body", bodyDel.toString, 1.0))
      val terms = Seq("w0", "w1")
      val families = fields.map(f => FieldedSearch.FieldFamily(f.name, Seq(f.indexDir), f.boost))
      def hits(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      // the fielded WAND paths over the same fields, run before and after
      val wandCalls: Seq[(String, () => Array[(Long, Double)])] = Seq(
        "topK" -> (() => hits(FieldedSearch.topK(spark, fields, terms, 10))),
        "phraseTopK" -> (() => hits(FieldedSearch.phraseTopK(spark, fields, terms, 10))),
        "topKMulti" -> (() => hits(FieldedSearch.topKMulti(spark, families, terms, 10))))
      def langCounts() = graft.query.Facets.termsAggFielded(spark, fields, terms, "or")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wandBefore = wandCalls.map { case (what, call) => what -> call() }
      val countsBefore = langCounts()
      wandBefore.foreach { case (what, b) => assert(b.nonEmpty, s"$what found nothing") }
      val before = FieldedSearch.combinedFieldsTopK(spark, fields, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(before.nonEmpty)
      val victim = before.head._1
      // deletes live on the FIRST field's index — the convention every
      // other FieldedSearch/Search path follows
      graft.index.Tombstones.deleteByIds(spark, titleDel.toString, Seq(victim).toDS())
      val after = FieldedSearch.combinedFieldsTopK(spark, fields, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(!after.map(_._1).contains(victim), "deleted doc surfaced in combined_fields")
      // deletion filters the candidate set, never rescores survivors
      val beforeMap = before.toMap
      after.foreach { case (id, s) =>
        beforeMap.get(id).foreach(bs => assert(math.abs(bs - s) < 1e-12, s"doc $id rescored"))
      }
      // each WAND path's top hit goes too (on the first field's index, which
      // is also the first family's only segment)
      val victims = (victim +: wandBefore.map(_._2.head._1)).distinct
      graft.index.Tombstones.deleteByIds(spark, titleDel.toString, victims.filter(_ != victim).toDS())
      wandCalls.zip(wandBefore).foreach { case ((what, call), (_, b)) =>
        val a = call()
        assert(a.nonEmpty && !a.exists(h => victims.contains(h._1)), s"$what returned a deleted doc")
        val bm = b.toMap
        a.foreach { case (id, s) =>
          bm.get(id).foreach(bs => assert(math.abs(bs - s) < 1e-12, s"$what rescored doc $id"))
        }
      }
      val langOf = (0L until nd).map(i => PagesGen.pageFor(i)).sortBy(_.url).map(_.lang)
      val lost = victims.groupBy(id => langOf(id.toInt)).view.mapValues(_.size.toLong)
      val expectedCounts = countsBefore.map { case (l, n) => l -> (n - lost.getOrElse(l, 0L)) }.filter(_._2 > 0)
      assert(langCounts() == expectedCounts, "termsAggFielded counted a deleted doc")
    } finally {
      import scala.reflect.io.Directory
      new Directory(bodyDel.toFile).deleteRecursively()
      new Directory(titleDel.toFile).deleteRecursively()
    }
  }

  test("combined_fields (BM25F): one virtual field ≡ exhaustive weighted-tf scoring") {
    import graft.query.FieldedSearch
    val fields = Seq((titleCorpus, 2.0), (corpus, 1.0))
    val n = corpus.size
    def stats(c: Seq[(Long, String)]) = {
      val tf = c.map { case (id, t) =>
        id -> Analyzer.tokenize(t).groupBy(identity).view.mapValues(_.size).toMap
      }.toMap
      val dl = c.map { case (id, t) => id -> Analyzer.tokenize(t).length }.toMap
      (tf, dl)
    }
    val (ttf, tdl) = stats(titleCorpus)
    val (btf, bdl) = stats(corpus)
    val avgdlC = 2.0 * (tdl.values.sum.toDouble / n) + 1.0 * (bdl.values.sum.toDouble / n)
    Seq(Seq("w0", "w1"), Seq("w3", "w7", "w11")).foreach { terms =>
      val dfc = terms.map { t =>
        t -> math.max(btf.count(_._2.contains(t)), ttf.count(_._2.contains(t))).toLong
      }.toMap
      val exp = (0L until NDocs).flatMap { id =>
        val perTerm = terms.distinct.sorted.flatMap { t =>
          val tfc = 2.0 * ttf(id).getOrElse(t, 0) + 1.0 * btf(id).getOrElse(t, 0)
          if (tfc == 0.0 || dfc(t) == 0L) None
          else {
            val dlc = 2.0 * tdl(id) + 1.0 * bdl(id)
            Some(NaiveBm25.idf(n, dfc(t)) * tfc /
              (tfc + 1.2 * (1 - 0.75 + 0.75 * dlc / avgdlC)))
          }
        }
        if (perTerm.isEmpty) None else Some((id, perTerm.foldLeft(0.0)(_ + _)))
      }.sortBy { case (id, s) => (-s, id) }.take(10)
      val got = FieldedSearch.combinedFieldsTopK(
        spark,
        Seq(FieldedSearch.Field("title", titleDir.toString, 2.0),
          FieldedSearch.Field("body", dir.toString, 1.0)),
        terms, 10
      ).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.map(_._1).toSeq == exp.map(_._1), s"combined_fields $terms ids: ${got.toSeq} vs $exp")
      exp.zip(got).foreach { case ((_, es), (_, gs)) =>
        assert(math.abs(gs - es) < 1e-9, s"combined_fields $terms score $gs vs $es")
      }
    }
  }

  test("fielded prefix/fuzzy: per-field dictionary expansion with participation masks") {
    import graft.query.FieldedSearch
    val fields = Seq(
      FieldedSearch.Field("title", titleDir.toString, 2.0),
      FieldedSearch.Field("body", dir.toString, 1.0))
    val titleVocab = titleCorpus.flatMap { case (_, t) => Analyzer.tokenize(t) }.toSet
    val bodyVocab = corpus.flatMap { case (_, t) => Analyzer.tokenize(t) }.toSet

    // prefix: title vocab (first-5-token field) is a strict subset of the
    // body's, so the per-field expansions genuinely differ — the mask must
    // keep body-only rewrites out of the title's scoring
    val pre = "w123"
    val expT = titleVocab.filter(_.startsWith(pre))
    val expB = bodyVocab.filter(_.startsWith(pre))
    assume(expT != expB && expB.nonEmpty, s"fixture: $expT vs $expB")
    val union = (expT ++ expB).toSeq.sorted
    val expected = NaiveBm25.fieldedTopK(
      Seq((titleCorpus, 2.0), (corpus, 1.0)), union, 10,
      perFieldTerms = Seq(expT, expB))
    val got = FieldedSearch.prefixTopK(spark, fields, pre, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == expected.map(_.docId), s"fielded prefix ids (union=$union)")
    expected.zip(got).foreach { case (e, (_, gs)) =>
      assert(math.abs(gs - e.score) < 1e-9, "fielded prefix score")
    }

    // fuzzy: per-field 1-edit neighborhoods of an absent term
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val q = "w1x"
    val fzT = titleVocab.filter(lev(_, q) <= 1)
    val fzB = bodyVocab.filter(lev(_, q) <= 1)
    assume(fzB.nonEmpty)
    val unionF = (fzT ++ fzB).toSeq.sorted
    val expectedF = NaiveBm25.fieldedTopK(
      Seq((titleCorpus, 2.0), (corpus, 1.0)), unionF, 10,
      perFieldTerms = Seq(fzT, fzB))
    val gotF = FieldedSearch.fuzzyTopK(spark, fields, q, 10, maxEdits = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotF.map(_._1).toSeq == expectedF.map(_.docId), s"fielded fuzzy ids (union=$unionF)")
    expectedF.zip(gotF).foreach { case (e, (_, gs)) =>
      assert(math.abs(gs - e.score) < 1e-9, "fielded fuzzy score")
    }
  }

  test("fielded facets: union-of-fields match set, counted once per doc") {
    import graft.query.{Facets, FieldedSearch}
    val fields = Seq(
      FieldedSearch.Field("title", titleDir.toString, 2.0),
      FieldedSearch.Field("body", dir.toString, 1.0))
    val byUrl = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOf = byUrl.map(_.lang).toArray
    val terms = Seq("w1", "w2")
    val titles = titleCorpus
    // exhaustive: a doc matches iff ANY field contains ANY query term
    def docMatches(id: Long, and: Boolean): Boolean = {
      val t = Analyzer.tokenize(titles(id.toInt)._2).toSet
      val b = Analyzer.tokenize(corpus(id.toInt)._2).toSet
      if (and) terms.forall(t.contains) || terms.forall(b.contains)
      else terms.exists(x => t.contains(x) || b.contains(x))
    }
    Seq(false, true).foreach { and =>
      val matched = (0L until NDocs).filter(docMatches(_, and))
      val expected = matched
        .groupBy(id => langOf(id.toInt)).view.mapValues(_.size.toLong).toMap
      val got = Facets.termsAggFielded(spark, fields, terms, if (and) "and" else "or")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected, s"fielded terms agg (and=$and): $got vs $expected")
      val day = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd").withZone(java.time.ZoneOffset.UTC)
      val expectedD = matched
        .groupBy(id => day.format(java.time.Instant.ofEpochMilli(byUrl(id.toInt).warc_ts.getTime)))
        .view.mapValues(_.size.toLong).toMap
      val gotD = Facets.dateHistogramFielded(spark, fields, terms, if (and) "and" else "or")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotD == expectedD, s"fielded date histogram (and=$and): $gotD vs $expectedD")
    }
  }

  test("fielded × multi-segment: 2-segment families rank-identical to single-index fielded oracle") {
    import graft.query.FieldedSearch
    import graft.index.AttrPred
    // split by URL ORDER so segment-family global ids == corpus docIDs
    val cutUrl = (0L until NDocs).map(i => PagesGen.pageFor(i).url).sorted.apply(NDocs.toInt / 2)
    val dirs = (1 to 4).map(_ => Files.createTempDirectory("graft-fseg").toString)
    val cfg = BuildConfig(nPartitions = 8, nGroups = 2, nSlices = 4, blockSize = 64)
    IndexBuilder.build(spark, PagesGen.pages(spark, NDocs, 8).filter(_.url < cutUrl), dirs(0), cfg)
    IndexBuilder.build(spark, PagesGen.pages(spark, NDocs, 8).filter(_.url >= cutUrl), dirs(1), cfg)
    IndexBuilder.build(spark, titlePages(_.url < cutUrl), dirs(2), cfg)
    IndexBuilder.build(spark, titlePages(_.url >= cutUrl), dirs(3), cfg)
    val families = Seq(
      FieldedSearch.FieldFamily("title", Seq(dirs(2), dirs(3)), 2.0),
      FieldedSearch.FieldFamily("body", Seq(dirs(0), dirs(1)), 1.0)
    )
    Seq(Seq("w0", "w1"), Seq("w3", "w7", "w11")).foreach { terms =>
      val expected = NaiveBm25.fieldedTopK(Seq((titleCorpus, 2.0), (corpus, 1.0)), terms, 10)
      val got = FieldedSearch.topKMulti(spark, families, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == expected.length, s"fielded-multiseg $terms size")
      expected.zip(got).zipWithIndex.foreach { case ((e, (gid, gs)), rank) =>
        assert(gid == e.docId, s"fielded-multiseg $terms rank $rank: got $gid want ${e.docId}")
        assert(math.abs(gs - e.score) < 1e-9, s"fielded-multiseg $terms rank $rank score")
      }
    }
    // + sidecar filter context across the family
    val byUrl = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOf = byUrl.map(_.lang).toArray
    val expF = NaiveBm25.fieldedTopK(Seq((titleCorpus, 2.0), (corpus, 1.0)), Seq("w0", "w1"), 10,
      allowed = id => langOf(id.toInt) == "ru")
    val gotF = FieldedSearch.topKMulti(spark, families, Seq("w0", "w1"), 10,
      attrFilter = AttrPred.lang("ru"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotF.map(_._1).toSeq == expF.map(_.docId), "fielded-multiseg+sidecar ids")
    import scala.reflect.io.Directory
    dirs.foreach(d => new Directory(new java.io.File(d)).deleteRecursively())
  }

  test("fielded calls refuse fields whose slice layouts differ") {
    import graft.query.{Facets, FieldedSearch}
    val body = Files.createTempDirectory("graft-layout-body")
    val title = Files.createTempDirectory("graft-layout-title")
    try {
      // slices are doc-id ranges: at 6 vs 2 slices a doc's fields land in
      // different tasks, and a summed score would silently lose a field
      IndexBuilder.build(spark, PagesGen.pages(spark, 300, 4), body.toString,
        BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 6, blockSize = 32))
      IndexBuilder.build(spark, IndexSearchSpec.titlePages(300, _ => true), title.toString,
        BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32))
      val fields = Seq(FieldedSearch.Field("body", body.toString, 1.0),
        FieldedSearch.Field("title", title.toString, 2.0))
      val families = fields.map(f => FieldedSearch.FieldFamily(f.name, Seq(f.indexDir), f.boost))
      val q = Seq("w0", "w1", "w2")
      val calls: Seq[(String, () => Any)] = Seq(
        "topK" -> (() => FieldedSearch.topK(spark, fields, q, 10).collect()),
        "topKMulti" -> (() => FieldedSearch.topKMulti(spark, families, q, 10).collect()),
        "phraseTopK" -> (() => FieldedSearch.phraseTopK(spark, fields, Seq("w0", "w1"), 10).collect()),
        "termsAggFielded" -> (() => Facets.termsAggFielded(spark, fields, q, "or").collect()))
      calls.foreach { case (what, call) =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("slice layout"), s"$what: ${e.getMessage}")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(body.toFile).deleteRecursively()
      new Directory(title.toFile).deleteRecursively()
    }
  }

  test("fielded phrase (most_fields over match_phrase) matches naive oracle") {
    import graft.query.FieldedSearch
    import graft.index.AttrPred
    val fields = Seq(
      FieldedSearch.Field("title", titleDir.toString, 2.0),
      FieldedSearch.Field("body", dir.toString, 1.0)
    )
    var nonEmpty = 0
    Seq(Seq("w0", "w1"), Seq("w1", "w0"), Seq("w2", "w0", "w1"), Seq("nosuchterm", "w1"))
      .foreach { phrase =>
        val expected = NaiveBm25.fieldedPhraseTopK(Seq((titleCorpus, 2.0), (corpus, 1.0)), phrase, 10)
        val got = FieldedSearch.phraseTopK(spark, fields, phrase, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got.length == expected.length, s"fielded-phrase $phrase size: ${got.length} vs ${expected.length}")
        if (got.nonEmpty) nonEmpty += 1
        expected.zip(got).zipWithIndex.foreach { case ((e, (gid, gs)), rank) =>
          assert(gid == e.docId, s"fielded-phrase $phrase rank $rank: got $gid want ${e.docId}")
          assert(math.abs(gs - e.score) < 1e-9, s"fielded-phrase $phrase rank $rank score")
        }
      }
    assert(nonEmpty >= 2, "fielded-phrase coverage too trivial")
    // + sidecar filter
    val byUrl = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOf = byUrl.map(_.lang).toArray
    val expF = NaiveBm25.fieldedPhraseTopK(Seq((titleCorpus, 2.0), (corpus, 1.0)), Seq("w0", "w1"), 10,
      allowed = id => langOf(id.toInt) == "en")
    val gotF = FieldedSearch.phraseTopK(spark, fields, Seq("w0", "w1"), 10,
      attrFilter = AttrPred.lang("en"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotF.map(_._1).toSeq == expF.map(_.docId), "fielded-phrase+sidecar ids")
    val gotD = FieldedSearch.phraseTopK(spark, fields, Seq("w0", "w1"), 10,
      docFilter = org.apache.spark.sql.functions.col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotD.map(_._1).toSeq == expF.map(_.docId), "fielded-phrase+docFilter ids")
    expF.zip(gotD).foreach { case (e, (_, gs)) =>
      assert(math.abs(gs - e.score) < 1e-9, "fielded-phrase+docFilter score")
    }
  }

  test("hydrate (fetch phase): stored fields join to hits; text only on request") {
    val hits = Search.topK(spark, dir.toString, Seq("w0"), "or", 5)
    val h = Search.hydrate(spark, dir.toString, hits).collect()
    assert(h.length == 5)
    assert(!h.head.schema.fieldNames.contains("text"))
    val urls = (0L until NDocs).map(i => PagesGen.pageFor(i).url).sorted
    h.foreach { r =>
      assert(r.getAs[String]("url") == urls(r.getAs[Long]("doc_id").toInt), "hydrated url mismatch")
      assert(r.getAs[Int]("doc_len") > 0)
    }
    val withT = Search.hydrate(spark, dir.toString, hits, withText = true).collect()
    assert(withT.forall(_.getAs[String]("text").nonEmpty))
  }

  test("phrase block-max gate: skips position decodes on low-impact blocks, rank-safe") {
    import graft.query.BlockMaxWand
    // 40 short docs (high impact) then 960 long docs (low impact), all
    // containing the phrase; once top-5 fills from the short docs, the
    // gate must skip the long docs' position decodes entirely
    val d = Files.createTempDirectory("graft-pskip")
    val texts = (0 until 1000).map { i =>
      if (i < 40) s"aa bb cc dd"
      else ("aa bb " + Seq.fill(99)("xx yy").mkString(" "))
    }
    import TestSpark.spark.implicits._
    val pages = spark.createDataset(texts.zipWithIndex.map { case (t, i) =>
      val url = f"p/$i%06d"
      Page(url, new java.sql.Timestamp(1609459200000L + i), graft.sources.HtmlText.wrap(url, t), t, "en")
    })
    IndexBuilder.build(spark, pages, d.toString,
      BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 16))
    val corpus2 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    BlockMaxWand.posBlockDecodes.reset()
    val gotSmallK = Search.phraseTopK(spark, d.toString, Seq("aa", "bb"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val decodesGated = BlockMaxWand.posBlockDecodes.sumThenReset()
    val expected = NaiveBm25.phraseTopK(corpus2, Seq("aa", "bb"), 5)
    assert(gotSmallK.map(_._1).toSeq == expected.map(_.docId), "gated phrase ids")
    expected.zip(gotSmallK).foreach { case (e, (_, gs)) => assert(math.abs(gs - e.score) < 1e-9) }
    // k larger than the match count → threshold never set → no gating:
    // the unpruned decode count to beat
    val gotBigK = Search.phraseTopK(spark, d.toString, Seq("aa", "bb"), 2000).count()
    val decodesUngated = BlockMaxWand.posBlockDecodes.sumThenReset()
    assert(gotBigK == 1000L)
    assert(decodesGated < decodesUngated,
      s"gate saved nothing: $decodesGated vs $decodesUngated decodes")
    import scala.reflect.io.Directory
    new Directory(d.toFile).deleteRecursively()
  }

  test("batched Searcher: whole query set in one job, rank-identical to oracle") {
    val searcher = new graft.query.Searcher(spark, dir.toString)
    val batch = queries.zipWithIndex.map { case ((terms, mode), i) =>
      graft.query.Searcher.BatchQuery(i.toLong, terms, mode)
    }
    val got = searcher.topKBatch(batch, 10)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .groupBy(_._1)
    queries.zipWithIndex.foreach { case ((terms, mode), i) =>
      val expected = NaiveBm25.topK(corpus, terms, mode, 10)
      val rows = got.getOrElse(i.toLong, Array.empty).sortBy(_._2)
      assert(rows.length == expected.length, s"$terms/$mode size")
      expected.zip(rows).foreach { case (e, (_, _, gid, gs)) =>
        assert(gid == e.docId && math.abs(gs - e.score) < 1e-9, s"$terms/$mode")
      }
    }
    // the same set, plus must_not and msm variants, agrees to the score
    // bit across the batch walk, the driver-local walk and a view's top-k
    val variants = Seq(
      graft.query.Searcher.BatchQuery(100L, Seq("w1", "w2"), "or", mustNot = Seq("w3")),
      graft.query.Searcher.BatchQuery(101L, Seq("w0"), "or", mustNot = Seq("w1", "w2")),
      graft.query.Searcher.BatchQuery(102L, Seq("w4", "w7"), "or", mustNot = Seq("nosuchterm")),
      graft.query.Searcher.BatchQuery(103L, Seq("w10", "w20", "w30", "w40"), "or", minShouldMatch = 2),
      graft.query.Searcher.BatchQuery(104L, Seq("w1", "w2", "w3"), "or", mustNot = Seq("w5"), minShouldMatch = 3))
    assert(IndexSearchSpec.assertSamePaths(dir.toString, batch ++ variants) ==
      queries.count { case (ts, m) => NaiveBm25.topK(corpus, ts, m, 10).nonEmpty } + variants.size)
    // cachePostings: the walk reads the index tables from Spark's cache
    // and answers the same, to the score bit
    def bits(rows: Iterable[(Long, Long, Long, Double)]) =
      rows.map(r => (r._1, r._2, r._3, java.lang.Double.doubleToRawLongBits(r._4))).toSeq.sorted
    val cached = new graft.query.Searcher(spark, dir.toString, cachePostings = true)
    try {
      val df = cached.topKBatch(batch, 10)
      assert(df.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
        s"cached batch plan reads no cache:\n${df.queryExecution.optimizedPlan}")
      val gotCached = df.collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      assert(bits(gotCached) == bits(got.values.flatten))
    } finally {
      IndexBuilder.readPostings(spark, dir.toString).unpersist()
      IndexBuilder.readTerms(spark, dir.toString).unpersist()
    }
  }

  test("driver-local serving path: rank-identical to oracle, falls back on hot queries") {
    val searcher = new graft.query.Searcher(spark, dir.toString)
    queries.foreach { case (terms, mode) =>
      val expected = NaiveBm25.topK(corpus, terms, mode, 10)
      val got = searcher.topKLocal(terms, mode, 10)
      assert(got.length == expected.length, s"$terms/$mode size")
      expected.zip(got).foreach { case (e, (gid, gs)) =>
        assert(gid == e.docId && math.abs(gs - e.score) < 1e-9, s"$terms/$mode")
      }
    }
    // fallback path (maxBlocks=1 forces the distributed route) agrees too
    val viaFallback = searcher.topKLocal(Seq("w0"), "or", 10, maxBlocks = 1)
    val expected = NaiveBm25.topK(corpus, Seq("w0"), "or", 10)
    assert(viaFallback.map(_._1) == expected.map(_.docId))
    // filter context on the driver-local path: the driver streams the
    // slice sidecars itself — same answers as the distributed filtered run
    val byUrlL = (0L until NDocs).map(i => PagesGen.pageFor(i)).sortBy(_.url)
    val langOfL = byUrlL.map(_.lang).toArray
    val expF = NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 10,
      id => langOfL(id.toInt) == "ru")
    val gotF = searcher.topKLocal(Seq("w1", "w2"), "or", 10,
      attr = graft.index.AttrPred.lang("ru"))
    assert(gotF.map(_._1) == expF.map(_.docId), "filtered local ids")
    // and through the hot-query fallback with the filter attached
    val gotFb = searcher.topKLocal(Seq("w1", "w2"), "or", 10, maxBlocks = 1,
      attr = graft.index.AttrPred.lang("ru"))
    assert(gotFb.map(_._1) == expF.map(_.docId), "filtered local fallback ids")
    // gated, fallback, batch and view answers are bit-identical with
    // filters, must_not and msm composed
    val paths = Seq(
      graft.query.Searcher.BatchQuery(0L, Seq("w1", "w2"), "or", graft.index.AttrPred.lang("ru")),
      graft.query.Searcher.BatchQuery(1L, Seq("w0", "w4999"), "or", graft.index.AttrPred.lang("en"),
        mustNot = Seq("w3")),
      graft.query.Searcher.BatchQuery(2L, Seq("w1", "w2"), "and", mustNot = Seq("w5")),
      graft.query.Searcher.BatchQuery(3L, Seq("w10", "w20", "w30"), "or", graft.index.AttrPred.lang("de"),
        minShouldMatch = 2))
    assert(IndexSearchSpec.assertSamePaths(dir.toString, paths) == paths.size)
  }

  test("task retry does not double-count accumulator-carried metrics") {
    val d = Files.createTempDirectory("graft-chaos")
    val pages = PagesGen.pages(spark, 300L, 4)
    IndexBuilder.chaosOnce.set(true)
    // maxFailures=2 (TestSpark local[4, 2]): the injected task death is
    // retried; the failed attempt's partial metrics must be discarded
    IndexBuilder.build(spark, pages, d.toString,
      BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 4, blockSize = 32))
    assert(!IndexBuilder.chaosOnce.get, "chaos hook did not fire")
    val m = IndexBuilder.readMetrics(spark, d.toString).collect()
    val totalPostings = m.map(_.getAs[Long]("postings")).sum
    val expected = (0L until 300L)
      .map(i => Analyzer.termFreqs(PagesGen.pageFor(i).text)._2.length.toLong).sum
    assert(totalPostings == expected, "metrics double-counted across task retry")
    import scala.reflect.io.Directory
    new Directory(d.toFile).deleteRecursively()
  }

  test("interrupted build resumes to an identical index") {
    val d2 = Files.createTempDirectory("graft-resume")
    val pages = PagesGen.pages(spark, 500L, 4)
    val cfg = BuildConfig(nPartitions = 8, nGroups = 4, nSlices = 8, blockSize = 32)
    // run 1: die after 2 of 4 posting groups committed
    val attempt = Try(IndexBuilder.build(spark, pages, d2.toString, cfg, failAfterGroups = 2))
    assert(attempt.isFailure)
    val committedBefore = IndexBuilder.completedUnits(d2.toString)
    assert(committedBefore.exists(_.startsWith("grp-")))
    assert(!committedBefore.contains("done"))
    // run 2: resume to completion
    IndexBuilder.build(spark, pages, d2.toString, cfg)
    assert(IndexBuilder.completedUnits(d2.toString).contains("done"))
    // compare against an uninterrupted build: identical postings
    val d3 = Files.createTempDirectory("graft-clean")
    IndexBuilder.build(spark, pages, d3.toString, cfg)
    def dump(p: String) =
      IndexBuilder.readPostings(spark, p)
        .collect()
        .map { r =>
          (r.getAs[String]("term"), r.getAs[Int]("slice"), r.getAs[Int]("block_id"),
            r.getAs[Long]("doc_id_min"), r.getAs[Long]("doc_id_max"), r.getAs[Int]("count"),
            r.getAs[Array[Byte]]("deltas").toSeq, r.getAs[Array[Byte]]("tfs").toSeq,
            (r.getAs[Array[Byte]]("dls").toSeq, r.getAs[Array[Byte]]("poss").toSeq,
              r.getAs[Int]("max_tf"), r.getAs[Int]("min_dl")),
            r.getAs[Double]("max_impact"))
        }
        .sortBy(t => (t._1, t._2, t._3))
    assert(dump(d2.toString).toSeq == dump(d3.toString).toSeq)
    import scala.reflect.io.Directory
    new Directory(d2.toFile).deleteRecursively()
    new Directory(d3.toFile).deleteRecursively()
  }

  test("hot-term skew is split across slices (no single-partition hot term)") {
    // the Zipf head term must span multiple doc-range slices, each an
    // independently encoded sub-list — the skew-salting contract
    val hot = IndexBuilder.readTerms(spark, dir.toString)
      .orderBy(org.apache.spark.sql.functions.desc("doc_freq"))
      .limit(1).collect().head.term
    val slices = IndexBuilder.readPostings(spark, dir.toString)
      .where(org.apache.spark.sql.functions.col("term") === hot)
      .select("slice").distinct().count()
    assert(slices >= 4, s"hot term '$hot' concentrated in $slices slice(s)")
  }

  test("build metrics cover all groups with committed status") {
    val m = IndexBuilder.readMetrics(spark, dir.toString).collect()
    assert(m.nonEmpty)
    assert(m.forall(_.getAs[String]("status") == "committed"))
    val totalPostings = m.map(_.getAs[Long]("postings")).sum
    // total postings = Σ per-doc distinct terms
    val expected = corpus.map { case (_, t) => Analyzer.termFreqs(t)._2.length.toLong }.sum
    assert(totalPostings == expected)
  }

  test("assignPages: dense ids = global utf8 url order, any partition count") {
    // r6 pin: the bounds+hash-exchange rewrite must reproduce the exact
    // ids of the range-partition scheme — rank of url in UTF-8 binary
    // order, independent of parallelism and of where bounds fall. The
    // fixture interleaves url shapes (and a non-ASCII one) so in-task
    // sorting and range-id assignment both get exercised.
    import spark.implicits._
    val urls = (0 until 500).map { i =>
      val tag = i % 4 match {
        case 0 => f"a/$i%05d"
        case 1 => f"b/${i * 7 % 500}%05d-x"
        case 2 => f"a/$i%05d/é" // non-ASCII: utf8 order must hold
        case _ => f"zz/$i%03d"
      }
      s"doc://$tag"
    }
    val expected = urls.sortWith { (x, y) =>
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(a.length, b.length)
      var i = 0
      var r = 0
      while (r == 0 && i < n) { r = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
      if (r != 0) r < 0 else a.length < b.length
    }.zipWithIndex.map { case (u, i) => (u, i.toLong) }.toMap
    Seq(3, 8).foreach { parts =>
      val ds = spark.createDataset(urls.map(u =>
        (u, new java.sql.Timestamp(0L), "en", s"text of $u")))
      val (withIds, total) = graft.functions.DenseId.assignPages(
        ds.repartition(5), parts, ds.map(_._1))
      assert(total == 500L)
      val got = withIds.collect()
      assert(got.length == 500)
      got.foreach { case (id, u, _, _, txt) =>
        assert(id == expected(u), s"id of $u at $parts partitions")
        assert(txt == s"text of $u") // payload rides the exchange intact
      }
    }
  }
}

/** Serializable helpers — task closures must not capture the suite. */
object IndexSearchSpec {
  def titleOf(t: String): String = Analyzer.tokenize(t).take(4).mkString(" ")

  /** Title-field pages (first 4 tokens) over an arbitrary page subset. */
  def titlePages(nDocs: Long, pred: Page => Boolean) = {
    import TestSpark.spark.implicits._
    TestSpark.spark.range(0, nDocs, 1, 8).map { i =>
      val p = PagesGen.pageFor(i)
      val tt = titleOf(p.text)
      Page(p.url, p.warc_ts, graft.sources.HtmlText.wrap(p.url, tt), tt, p.lang)
    }.filter(pred)
  }

  /** Every query of `batch` answers the same ids and raw score bits
    * through the batch walk, the driver-local walk (gated, and forced to
    * its distributed fallback with `maxBlocks = 1`) and a one-segment
    * view's top-k. Returns the number of queries with hits.
    */
  def assertSamePaths(dir: String, batch: Seq[graft.query.Searcher.BatchQuery], k: Int = 10,
                      allowListCap: Int = 1 << 20): Int = {
    import org.scalatest.Assertions._
    val spark = TestSpark.spark
    def bits(hits: Seq[(Long, Double)]) =
      hits.map { case (id, s) => (id, java.lang.Double.doubleToRawLongBits(s)) }
    val searcher = new graft.query.Searcher(spark, dir, attrAllowListCap = allowListCap)
    val batched = searcher.topKBatch(batch, k).select("qid", "rank", "doc_id", "score").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
      }
    val view = new graft.query.MultiSearcher(spark, Seq(dir))
    batch.count { q =>
      val want = bits(view.topK(q.terms, q.mode, k, attrFilter = q.attr, mustNot = q.mustNot,
        minShouldMatch = q.minShouldMatch).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      assert(bits(batched.getOrElse(q.qid, Nil)) == want, s"topKBatch $q")
      Seq(4096, 1).foreach { maxBlocks =>
        val local = searcher.topKLocal(q.terms, q.mode, k, maxBlocks, q.mustNot, q.minShouldMatch, q.attr)
        assert(bits(local) == want, s"topKLocal maxBlocks=$maxBlocks $q")
      }
      want.nonEmpty
    }
  }
}
