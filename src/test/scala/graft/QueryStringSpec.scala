package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.Analyzer
import graft.index.{AttrPred, IndexBuilder}
import graft.index.IndexBuilder.{BuildConfig, B, K1}
import graft.query.{NaiveBm25, QueryString}
import graft.query.QueryString._
import graft.sources.PagesGen

/** `query_string` mini-language: parser shapes, flat fast path ≡ WAND,
  * nested boolean composition ≡ exhaustive recompute, filter pushdown,
  * phrase composition, loud errors.
  */
class QueryStringSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = TestSpark.spark

  private val NDocs = 1500L
  private var dir: Path = _
  private var corpus: Seq[(Long, String)] = _
  private var langOf: Map[Long, String] = _

  private val attrs = Map("lang" -> "kw", "warc_ts" -> "num", "doc_len" -> "num")

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("graft-qs")
    val pages = PagesGen.pages(spark, NDocs, 8)
    IndexBuilder.build(spark, pages, dir.toString,
      BuildConfig(nPartitions = 8, nGroups = 2, nSlices = 4, blockSize = 64))
    val byUrl = (0L until NDocs).map { i =>
      val p = PagesGen.pageFor(i)
      (p.url, p.text, p.lang)
    }.sortBy(_._1)
    corpus = byUrl.zipWithIndex.map { case ((_, t, _), id) => (id.toLong, t) }
    langOf = byUrl.zipWithIndex.map { case ((_, _, l), id) => id.toLong -> l }.toMap
  }

  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(dir.toFile).deleteRecursively()
  }

  // ---- exhaustive scoring helpers --------------------------------------

  private lazy val analyzed: Seq[(Long, Int, Map[String, Int])] =
    corpus.map { case (id, text) =>
      val (dl, tfs) = Analyzer.termFreqs(text)
      (id, dl, tfs.toMap)
    }
  private lazy val avgDl: Double = {
    val tot = analyzed.map(_._2.toLong).sum
    if (tot > 0) tot.toDouble / NDocs else 1.0
  }
  private def dfOf(t: String): Long = analyzed.count(_._3.contains(t)).toLong
  private def idfOf(t: String): Double = NaiveBm25.idf(NDocs, dfOf(t))
  /** BM25 contribution of one term in one doc (0 when absent). */
  private def ts(id: Long, t: String): Double = {
    val (_, dl, tfs) = analyzed(id.toInt)
    tfs.get(t).map { tf =>
      idfOf(t) * tf / (tf + K1 * (1 - B + B * dl / avgDl))
    }.getOrElse(0.0)
  }
  private def has(id: Long, t: String): Boolean = analyzed(id.toInt)._3.contains(t)

  private def topOf(scores: Map[Long, Double], k: Int = 10): Seq[(Long, Double)] =
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)

  private def got(q: String, k: Int = 10): Seq[(Long, Double)] =
    QueryString.topK(spark, dir.toString, q, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def assertRank(gotR: Seq[(Long, Double)], exp: Seq[(Long, Double)], tag: String): Unit = {
    assert(gotR.map(_._1) == exp.map(_._1), s"$tag ids: got=$gotR exp=$exp")
    gotR.zip(exp).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9, s"$tag score: got=$g exp=$e")
    }
  }

  // ---- parser -----------------------------------------------------------

  test("parser: precedence, signs, fields, ranges, boosts, fuzzy, wildcard") {
    // juxtaposition = OR (should); AND binds tighter and promotes to must
    val p1 = parse("w1 w2 AND w3", attrs)
    assert(p1 == Bool(Seq(TermLeaf("w2"), TermLeaf("w3")), Seq(TermLeaf("w1")), Nil), s"$p1")
    // signs
    val p2 = parse("+w1 -w2 w3 NOT w4", attrs)
    assert(p2 == Bool(Seq(TermLeaf("w1")), Seq(TermLeaf("w3")),
      Seq(TermLeaf("w2"), TermLeaf("w4"))))
    // grouping
    val p3 = parse("(w1 OR w2) AND w3", attrs)
    assert(p3.must == Seq(Bool(Nil, Seq(TermLeaf("w1"), TermLeaf("w2")), Nil), TermLeaf("w3")))
    // field leaves
    assert(parse("lang:ru", attrs) ==
      Bool(Nil, Seq(FilterLeaf(AttrPred.KeyIn("lang", Set("ru")))), Nil))
    assert(parse("doc_len:[30 TO 80]", attrs).should.head ==
      FilterLeaf(AttrPred.NumRange("doc_len", 30, 81)))
    assert(parse("doc_len:>50", attrs).should.head ==
      FilterLeaf(AttrPred.NumRange("doc_len", 51, Long.MaxValue)))
    assert(parse("doc_len:<=50", attrs).should.head ==
      FilterLeaf(AttrPred.NumRange("doc_len", Long.MinValue, 51)))
    // boost, fuzzy, wildcard, phrase-with-boost
    assert(parse("w1^2.5", attrs).should.head == TermLeaf("w1", 2.5))
    assert(parse("w1~1", attrs).should.head == TermLeaf("w1", 1.0, fuzzy = 1))
    assert(parse("w1~", attrs).should.head == TermLeaf("w1", 1.0, fuzzy = 1))
    assert(parse("w1*", attrs).should.head == PatternLeaf("w1*"))
    assert(parse("w?z^3", attrs).should.head == PatternLeaf("w?z", 3.0))
    assert(parse("\"w1 w2\"^2", attrs).should.head == PhraseLeaf(Seq("w1", "w2"), 2.0))
    // loud errors
    intercept[IllegalArgumentException](parse("nosuchfield:x", attrs))
    intercept[IllegalArgumentException](parse("(w1 OR w2", attrs))
    intercept[IllegalArgumentException](parse("w1)", attrs))
    intercept[IllegalArgumentException](parse("\"unterminated", attrs))
  }

  // ---- flat fast path ----------------------------------------------------

  test("flat queries ≡ Search.topK ≡ naive (fast path)") {
    // OR
    assertRank(got("w1 w2"),
      NaiveBm25.topK(corpus, Seq("w1", "w2"), "or", 10).map(s => (s.docId, s.score)), "or")
    // AND
    assertRank(got("w1 AND w2"),
      NaiveBm25.topK(corpus, Seq("w1", "w2"), "and", 10).map(s => (s.docId, s.score)), "and")
    // must_not
    assertRank(got("w1 w2 -w3"),
      NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 10,
        id => !has(id, "w3")).map(s => (s.docId, s.score)), "or-not")
    // boost folds into idf
    val expBoost = topOf(analyzed.collect {
      case (id, _, tfs) if tfs.contains("w1") || tfs.contains("w2") =>
        id -> (2.0 * ts(id, "w1") + ts(id, "w2"))
    }.toMap)
    assertRank(got("w1^2 w2"), expBoost, "boost")
  }

  test("filter pushdown: lang/num filters gate, scores stay corpus-global") {
    assertRank(got("lang:ru AND (w1 OR w2)"),
      NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 10,
        id => langOf(id) == "ru").map(s => (s.docId, s.score)), "lang-and-group")
    // numeric range on the index-computed doc_len ([30 TO 80] inclusive)
    assertRank(got("doc_len:[30 TO 80] AND w1"),
      NaiveBm25.topKFiltered(corpus, Seq("w1"), "or", 10,
        id => { val dl = analyzed(id.toInt)._2; dl >= 30 && dl <= 80 })
        .map(s => (s.docId, s.score)), "range-and-term")
    // filter mustNot
    assertRank(got("w1 -lang:ru"),
      NaiveBm25.topKFiltered(corpus, Seq("w1"), "or", 10,
        id => langOf(id) != "ru").map(s => (s.docId, s.score)), "not-lang")
  }

  // ---- nested composition -------------------------------------------------

  test("nested groups: (a AND b) OR (c AND d^2) ≡ exhaustive recompute") {
    val exp = topOf(analyzed.flatMap { case (id, _, tfs) =>
      val g1 = tfs.contains("w1") && tfs.contains("w2")
      val g2 = tfs.contains("w3") && tfs.contains("w4")
      if (!g1 && !g2) None
      else Some(id -> (
        (if (g1) ts(id, "w1") + ts(id, "w2") else 0.0) +
          (if (g2) ts(id, "w3") + 2.0 * ts(id, "w4") else 0.0)))
    }.toMap)
    assertRank(got("(w1 AND w2) OR (w3 AND w4^2)"), exp, "nested-or-of-ands")
  }

  test("nested negation: group must_not prunes inside the group only") {
    // (w1 AND -w2) OR w5 : group docs have w1 but not w2; w5 docs always in
    val exp = topOf(analyzed.flatMap { case (id, _, tfs) =>
      val g1 = tfs.contains("w1") && !tfs.contains("w2")
      val g2 = tfs.contains("w5")
      if (!g1 && !g2) None
      else Some(id -> ((if (g1) ts(id, "w1") else 0.0) + (if (g2) ts(id, "w5") else 0.0)))
    }.toMap)
    assertRank(got("(w1 AND -w2) OR w5"), exp, "group-not")
  }

  test("should boosts musts (Lucene): w1 AND w2 w3 — w3 optional, scores add") {
    val exp = topOf(analyzed.flatMap { case (id, _, tfs) =>
      if (tfs.contains("w1") && tfs.contains("w2"))
        Some(id -> (ts(id, "w1") + ts(id, "w2") + ts(id, "w3")))
      else None
    }.toMap)
    assertRank(got("+w1 +w2 w3"), exp, "must-plus-should")
  }

  test("phrase composition: \"w1 w2\" OR w7 ≡ exhaustive phrase + term") {
    def phraseFreq(id: Long): Int = {
      val toks = Analyzer.tokenize(corpus(id.toInt)._2)
      (0 until math.max(0, toks.length - 1))
        .count(i => toks(i) == "w1" && toks(i + 1) == "w2")
    }
    val idfSum = idfOf("w1") + idfOf("w2")
    val exp = topOf(analyzed.flatMap { case (id, dl, tfs) =>
      val f = phraseFreq(id)
      val pScore = if (f > 0) idfSum * f / (f + K1 * (1 - B + B * dl / avgDl)) else 0.0
      val tScore = if (tfs.contains("w7")) ts(id, "w7") else 0.0
      if (f > 0 || tfs.contains("w7")) Some(id -> (pScore + tScore)) else None
    }.toMap)
    assertRank(got("\"w1 w2\" OR w7"), exp, "phrase-or-term")
  }

  test("filter in OR position: w9 OR lang:ru unions (filter docs score 0)") {
    val exp = topOf(analyzed.flatMap { case (id, _, tfs) =>
      val t = tfs.contains("w9")
      val f = langOf(id) == "ru"
      if (!t && !f) None else Some(id -> (if (t) ts(id, "w9") else 0.0))
    }.toMap)
    assertRank(got("w9 OR lang:ru"), exp, "term-or-filter")
  }

  test("pure filter root: ids of lang:ru AND doc_len:>50, score 0") {
    val exp = analyzed.collect {
      case (id, dl, _) if langOf(id) == "ru" && dl > 50 => id
    }.sorted.take(10)
    val g = got("lang:ru AND doc_len:>50")
    assert(g.map(_._1) == exp, s"filter ids: $g")
    assert(g.forall(_._2 == 0.0), "filters score 0")
  }

  test("wildcard leaves compose in groups") {
    // rareterm7* expands rareterm7, rareterm70..79, rareterm700.. (df-capped)
    val gotW = got("(rareterm7* AND w1)", 5)
    // every hit must contain w1 and some rareterm7-prefixed term
    gotW.foreach { case (id, _) =>
      assert(has(id, "w1"), s"doc $id missing w1")
      assert(analyzed(id.toInt)._3.keys.exists(_.startsWith("rareterm7")), s"doc $id no rareterm7*")
    }
    assert(gotW.nonEmpty, "wildcard group found docs")
  }

  test("fielded scoring leaf: title:term uses the title index's own stats") {
    // title field = first 3 tokens of each doc, its own index over the
    // same doc-id space
    val titleDir = Files.createTempDirectory("graft-qs-title")
    try {
      implicit val pageEnc = org.apache.spark.sql.Encoders.product[Page]
      IndexBuilder.build(spark,
        PagesGen.pages(spark, NDocs, 8).map { p =>
          val t = p.text.split(" ").filter(_.nonEmpty).take(3).mkString(" ")
          Page(p.url, p.warc_ts, graft.sources.HtmlText.wrap(p.url, t), t, p.lang)
        },
        titleDir.toString,
        BuildConfig(nPartitions = 8, nGroups = 2, nSlices = 4, blockSize = 64))
      // parse: title:w1 is a scoring leaf, lang:ru stays a filter
      val ast = parse("title:w1 AND w2", attrs, Set("title"))
      assert(ast.must == Seq(TermLeaf("w1", 1.0, 0, Some("title")), TermLeaf("w2")))
      intercept[IllegalArgumentException](parse("title:w1", attrs, Set.empty))
      // exhaustive recompute: per-field BM25 (title stats from the
      // 3-token corpus), AND across fields
      // EXACTLY the transform the title build applied
      val titleCorpus = corpus.map { case (id, t) =>
        (id, t.split(" ").filter(_.nonEmpty).take(3).mkString(" "))
      }
      val tAnalyzed = titleCorpus.map { case (id, t) =>
        val (dl, tfs) = Analyzer.termFreqs(t); (id, dl, tfs.toMap)
      }
      val tAvg = {
        val tot = tAnalyzed.map(_._2.toLong).sum
        if (tot > 0) tot.toDouble / NDocs else 1.0
      }
      val tDf = tAnalyzed.count(_._3.contains("w1")).toLong
      val tIdf = NaiveBm25.idf(NDocs, tDf)
      def tScore(id: Long): Option[Double] = {
        val (_, dl, tfs) = tAnalyzed(id.toInt)
        tfs.get("w1").map(tf => tIdf * tf / (tf + K1 * (1 - B + B * dl / tAvg)))
      }
      val exp = topOf(analyzed.flatMap { case (id, _, tfs) =>
        (tScore(id), tfs.contains("w2")) match {
          case (Some(ts1), true) => Some(id -> (ts1 + ts(id, "w2")))
          case _ => None
        }
      }.toMap)
      val gotF = QueryString.topK(spark, dir.toString, "title:w1 AND w2", 10,
        textFields = Map("title" -> titleDir.toString))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assertRank(gotF, exp, "fielded-and")
    } finally {
      import scala.reflect.io.Directory
      new Directory(titleDir.toFile).deleteRecursively()
    }
  }

  test("a fielded leaf whose field has another slice layout fails, naming the field") {
    val titleDir = Files.createTempDirectory("graft-qs-title-slices")
    try {
      IndexBuilder.build(spark, PagesGen.pages(spark, NDocs, 8), titleDir.toString,
        BuildConfig(nPartitions = 8, nGroups = 2, nSlices = 2, blockSize = 64))
      val e = intercept[IllegalArgumentException](
        QueryString.topK(spark, dir.toString, "title:w1 AND (w2 OR w3)", 10,
          textFields = Map("title" -> titleDir.toString)).collect())
      assert(e.getMessage.contains("'title'") && e.getMessage.contains("slice layout"), e.getMessage)
    } finally {
      import scala.reflect.io.Directory
      new Directory(titleDir.toFile).deleteRecursively()
    }
  }

  test("segment family ≡ single index for every query_string shape") {
    import graft.query.MultiSearcher
    // two url-ordered halves of the SAME corpus: family global ids equal
    // the single index's doc ids, so results must be identical
    val urls = (0L until NDocs).map(PagesGen.pageFor(_).url).sorted
    val mid = urls((NDocs / 2).toInt)
    val dirA = Files.createTempDirectory("graft-qs-famA")
    val dirB = Files.createTempDirectory("graft-qs-famB")
    try {
      val cfg = BuildConfig(nPartitions = 8, nGroups = 2, nSlices = 4, blockSize = 64)
      IndexBuilder.build(spark, PagesGen.pages(spark, NDocs, 8).filter(_.url < mid),
        dirA.toString, cfg)
      IndexBuilder.build(spark, PagesGen.pages(spark, NDocs, 8).filter(_.url >= mid),
        dirB.toString, cfg)
      val ms = new MultiSearcher(spark, Seq(dirA.toString, dirB.toString))
      val shapes = Seq(
        "w1 w2 -w3",                       // flat (family WAND fast path)
        "w1^2 w2",                         // boosted flat (fast path with boosts)
        "(w1 AND w2) OR (w3 AND w4^2)",    // nested groups + boost (tree)
        "\"w1 w2\" OR w7",                 // phrase compose
        "lang:ru AND (w1 OR w2)",          // filter pushdown
        "w9 OR lang:ru",                   // filter in OR position
        "rareterm7* AND w1"                // wildcard expansion (global df)
      )
      shapes.foreach { q =>
        val single = got(q)
        val fam = QueryString.topKFamily(ms, q, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(fam.map(_._1) == single.map(_._1), s"[$q] ids: fam=$fam single=$single")
        fam.zip(single).foreach { case ((_, a), (_, b)) =>
          assert(math.abs(a - b) < 1e-9, s"[$q] score $a vs $b")
        }
      }
      // pure-filter root over the family
      val famF = QueryString.topKFamily(ms, "lang:ru AND doc_len:>50", 10)
        .collect().map(_.getLong(0)).toSeq
      assert(famF == got("lang:ru AND doc_len:>50").map(_._1), "family filter root")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dirA.toFile).deleteRecursively()
      new Directory(dirB.toFile).deleteRecursively()
    }
  }

  test("fast path and tree path agree on the same flat query") {
    // force the tree path by wrapping in a redundant group
    val fast = got("w1 w2 -w3")
    val tree = got("(w1 w2 -w3)")
    assert(fast.map(_._1) == tree.map(_._1), "ids agree")
    fast.zip(tree).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
  }
}
