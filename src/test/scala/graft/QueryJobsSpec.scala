package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.index.{IndexBuilder, SegmentFamily, Tombstones}
import graft.index.IndexBuilder.BuildConfig
import graft.query.{BlockMaxWand, Facets, MultiSearcher, QueryString, Search, Searcher, SortBy}
import graft.sources.PagesGen

/** The Spark jobs a query runs, on a small index. Index tables open with
  * declared schemas, so no query runs a parquet schema-inference job (its
  * stage is named `parquet at ...`); a term query is dictionary lookup +
  * shuffle map stage + result, at most 3 jobs, on one index or a segment
  * family; an expansion query reuses its expansion's doc_freq rows, so it
  * adds no second dictionary job; a query_string tree resolves all its
  * leaves' terms in one dictionary job; `Searcher` runs on a one-segment
  * view, so its top-k, batch walk and driver-local walk (gated, or its
  * distributed fallback) each resolve a query's dictionary once, and the
  * unscored match walks (aggregations, `_count`, sort-by-field) read no
  * dictionary at all. more_like_this selects its terms and retrieves on
  * one view, so it reads the dictionary once; the view's dis_max,
  * synonym, phrase-prefix, phrase-count and explain paths keep their job
  * counts and block decodes. The fielded calls run
  * one walk over every field's view: a fielded expansion or `topKMulti`
  * reads each field's dictionary once (the expansion's memo answers the
  * walk's dfs, and a family's dfs are summed on the driver), the fielded
  * aggregations read no dictionary, and no call decodes more blocks than
  * a walk over the query terms' blocks. An upsert of a batch within the
  * flush budget runs the same few jobs whatever the family's size: the
  * gathering job, one write per table and one tombstone job.
  */
class QueryJobsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-jobs").toString
    IndexBuilder.build(spark, PagesGen.pages(spark, 300, 4), d,
      BuildConfig(nPartitions = 4, nGroups = 2, nSlices = 4, blockSize = 16))
    d
  }

  /** Stage names of every job `body` runs, one entry per job. */
  private def jobsOf(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.add(e.stageInfos.map(_.name))
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { body; TestBus.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    seen.asScala.toSeq
  }

  private def assertNoInference(what: String, jobs: Seq[Seq[String]]): Unit = {
    val inferring = jobs.flatten.filter(_.startsWith("parquet at"))
    assert(inferring.isEmpty, s"$what ran schema-inference jobs: $inferring")
  }

  test("term, phrase, prefix and query_string queries run no schema-inference job") {
    val dir = this.dir // build outside the measured windows
    val term = jobsOf(Search.topK(spark, dir, Seq("w0", "w1"), "or", 10).collect())
    assertNoInference("Search.topK", term)
    assert(term.size <= 3, s"Search.topK ran ${term.size} jobs: $term")
    assertNoInference("Search.phraseTopK", jobsOf(Search.phraseTopK(spark, dir, Seq("w0", "w1"), 10).collect()))
    val prefix = jobsOf(Search.prefixTopK(spark, dir, "w1", 10).collect())
    assertNoInference("Search.prefixTopK", prefix)
    assert(prefix.size <= 3, s"Search.prefixTopK ran ${prefix.size} jobs: $prefix")
    // a two-leaf tree (phrase + term) takes the tree evaluator
    val tree = jobsOf(QueryString.topK(spark, dir, "\"w0 w1\" w2", 10).collect())
    assertNoInference("QueryString.topK", tree)
    val dictionary = tree.filter(_.exists(_.startsWith("collect at MultiSearcher.scala")))
    assert(dictionary.size == 1, s"tree dictionary jobs: $tree")
  }

  test("a term query over a two-segment family runs at most 3 jobs; its dictionary lookup does not shuffle") {
    val root = Files.createTempDirectory("graft-jobs-family").toString
    val urls = (0L until 300L).map(PagesGen.pageFor(_).url).sorted
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 16)
    IndexBuilder.build(spark, PagesGen.pages(spark, 300, 4).filter(_.url < urls(150)), s"$root/A", cfg)
    IndexBuilder.build(spark, PagesGen.pages(spark, 300, 4).filter(_.url >= urls(150)), s"$root/B", cfg)
    val ms = new MultiSearcher(spark, Seq(s"$root/A", s"$root/B"))
    val family = jobsOf(ms.topK(Seq("w0", "w1"), "or", 10).collect())
    assertNoInference("MultiSearcher.topK", family)
    assert(family.size <= 3, s"MultiSearcher.topK ran ${family.size} jobs: $family")
    // the per-segment (term, doc_freq) rows are summed on the driver: one
    // single-stage job, no shuffle map stage
    val dictionary = family.filter(_.exists(_.startsWith("collect at MultiSearcher.scala")))
    assert(dictionary.size == 1 && dictionary.head.size == 1, s"family dictionary jobs: $family")
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("Searcher.topK and topKLocal's distributed fallback run one dictionary job") {
    val dir = this.dir
    val searcher = new Searcher(spark, dir)
    // Searcher runs on a one-segment view, which reads the dictionary
    def dictionary(jobs: Seq[Seq[String]]) = jobs.filter(_.exists(_.startsWith("collect at MultiSearcher.scala")))
    val topK = jobsOf(searcher.topK(Seq("w0", "w1"), "or", 10, mustNot = Seq("w2")).collect())
    assertNoInference("Searcher.topK", topK)
    assert(dictionary(topK).size == 1, s"Searcher.topK dictionary jobs: $topK")
    assert(topK.size <= 3, s"Searcher.topK ran ${topK.size} jobs: $topK")
    // maxBlocks = 1 forces the hot-query fallback: the block-count gate's
    // collect, then the view's top-k on the dfs already resolved
    val local = jobsOf(searcher.topKLocal(Seq("w0", "w1"), "or", 10, maxBlocks = 1))
    assertNoInference("Searcher.topKLocal", local)
    assert(dictionary(local).size == 2, s"Searcher.topKLocal dictionary + gate jobs: $local")
    assert(local.size <= 4, s"Searcher.topKLocal ran ${local.size} jobs: $local")
  }

  test("gated topKLocal, a filtered topKBatch and Search.batchTopK: jobs pinned") {
    import graft.index.AttrPred
    val dir = this.dir
    val searcher = new Searcher(spark, dir)
    // (call, jobs, max jobs): the dictionary job, then the gate's collect
    // (the limit may take a second pass) or the walk's exchange and result
    val calls = Seq(
      ("Searcher.topKLocal", jobsOf(searcher.topKLocal(Seq("w0", "w1"), "or", 10,
        mustNot = Seq("w2"), attr = AttrPred.lang("en"))), 3),
      ("Searcher.topKBatch", jobsOf(searcher.topKBatch(Seq(
        Searcher.BatchQuery(1L, Seq("w0", "w1"), "or", AttrPred.lang("en")),
        Searcher.BatchQuery(2L, Seq("w2"), "or", AttrPred.lang("en"), mustNot = Seq("w0")),
        Searcher.BatchQuery(3L, Seq("w1", "w3"), "and")), 10).collect()), 4),
      ("Search.batchTopK", jobsOf(Search.batchTopK(spark, dir,
        Seq((1L, Seq("w0", "w1"), "or"), (2L, Seq("w2", "w3"), "and")), 10).collect()), 4))
    calls.foreach { case (what, jobs, max) =>
      info(s"$what: ${jobs.size} jobs")
      assertNoInference(what, jobs)
      assert(jobs.size <= max, s"$what ran ${jobs.size} jobs: $jobs")
    }
  }

  test("aggregations, _count and sort-by-field read no dictionary; jobs and block decodes pinned") {
    val dir = this.dir
    val q = Seq("w0", "w1")
    BlockMaxWand.blockDecodes.reset()
    val walks = Seq(
      ("Facets.termsAgg", jobsOf(Facets.termsAgg(spark, dir, q, "or").collect()), 5),
      ("Facets.matchCount", jobsOf(Facets.matchCount(spark, dir, q, "or")), 3),
      ("SortBy.topKByAttr", jobsOf(SortBy.topKByAttr(spark, dir, q, "or", "warc_ts", 10).collect()), 2))
    val decodes = BlockMaxWand.blockDecodes.sum()
    walks.foreach { case (what, jobs, max) =>
      assertNoInference(what, jobs)
      assert(!jobs.flatten.exists(_.startsWith("collect at MultiSearcher.scala")),
        s"$what read the dictionary: $jobs")
      assert(jobs.size <= max, s"$what ran ${jobs.size} jobs: $jobs")
    }
    // 36 posting blocks per walk: every block of w0 and w1 decodes once
    assert(decodes == 108, s"the three walks decoded $decodes blocks")
  }

  test("more_like_this reads the dictionary once") {
    val dir = this.dir
    val jobs = jobsOf(Search.moreLikeThis(spark, dir, 7L, k = 5).collect())
    def collectsAt(file: String) = jobs.filter(_.exists(_.startsWith(s"collect at $file")))
    // Search's one collect is the source doc's point read; the candidate
    // terms' dfs are the view's one dictionary job, and the retrieval's
    // lookup is answered by its memo
    assert(collectsAt("Search.scala").size == 1, s"more_like_this collects: $jobs")
    assert(collectsAt("MultiSearcher.scala").size == 1, s"more_like_this dictionary jobs: $jobs")
    assert(jobs.size <= 5, s"Search.moreLikeThis ran ${jobs.size} jobs: $jobs")
  }

  test("dis_max, synonyms, phrase-prefix, phrase counts, phrase suggester and explain: jobs and block decodes pinned") {
    val dir = this.dir
    BlockMaxWand.blockDecodes.reset()
    BlockMaxWand.posBlockDecodes.reset()
    val calls = Seq(
      ("Search.disMaxTopK",
        jobsOf(Search.disMaxTopK(spark, dir, Seq("w0", "w1", "w2"), 10, tieBreaker = 0.3).collect()), 3),
      ("Search.synonymTopK", jobsOf(Search.synonymTopK(spark, dir, Seq(Seq("w0", "w5"), Seq("w1")), "or", 10,
        mustNot = Seq("w2")).collect()), 3),
      ("Search.phrasePrefixTopK", jobsOf(Search.phrasePrefixTopK(spark, dir, Seq("w0", "w1"), 10,
        attrFilter = graft.index.AttrPred.lang("en")).collect()), 5),
      ("Search.phraseCount", jobsOf(Search.phraseCount(spark, dir, Seq("w0", "w1"))), 3),
      ("Search.phraseSuggest", jobsOf(Search.phraseSuggest(spark, dir, Seq("w0", "w1")).collect()), 3),
      ("Search.explain", jobsOf(Search.explain(spark, dir, Seq("w0", "w1"), Seq(0L, 5L, 17L)).collect()), 2))
    val decodes = BlockMaxWand.blockDecodes.sum() + BlockMaxWand.posBlockDecodes.sum()
    calls.foreach { case (what, jobs, max) =>
      assertNoInference(what, jobs)
      assert(jobs.size <= max, s"$what ran ${jobs.size} jobs: $jobs")
    }
    // 474 posting-block and 349 position-block decodes over the six calls
    assert(decodes == 823, s"the six calls decoded $decodes blocks")
  }

  test("fielded calls: jobs and block decodes pinned; an expansion reads each field's dictionary once") {
    import org.apache.spark.sql.functions.col
    import graft.index.AttrPred
    import graft.query.FieldedSearch
    val dir = this.dir
    val title = Files.createTempDirectory("graft-jobs-title").toString
    IndexBuilder.build(spark, IndexSearchSpec.titlePages(300, _ => true), title,
      BuildConfig(nPartitions = 4, nGroups = 2, nSlices = 4, blockSize = 16))
    val fields = Seq(FieldedSearch.Field("title", title, 2.0), FieldedSearch.Field("body", dir, 1.0))
    val families = fields.map(f => FieldedSearch.FieldFamily(f.name, Seq(f.indexDir), f.boost))
    val q = Seq("w0", "w1")
    def measured(body: => Unit): (Seq[Seq[String]], Long, Long) = {
      BlockMaxWand.blockDecodes.reset()
      BlockMaxWand.posBlockDecodes.reset()
      val jobs = jobsOf(body)
      (jobs, BlockMaxWand.blockDecodes.sum(), BlockMaxWand.posBlockDecodes.sum())
    }
    // (call, measured, max jobs, block decodes, position-block decodes).
    // combined_fields' walk output feeds both the candidate-id semi-join
    // and the scoring join, so its blocks decode twice
    val calls = Seq(
      ("topK", measured(FieldedSearch.topK(spark, fields, q, 10).collect()), 4, 45L, 0L),
      ("topK attrFilter", measured(FieldedSearch.topK(spark, fields, q, 10,
        attrFilter = AttrPred.lang("en")).collect()), 4, 45L, 0L),
      ("topK docFilter", measured(FieldedSearch.topK(spark, fields, q, 10,
        docFilter = col("lang") === "en").collect()), 5, 45L, 0L),
      ("prefixTopK", measured(FieldedSearch.prefixTopK(spark, fields, "w1", 10).collect()), 4, 730L, 0L),
      ("fuzzyTopK", measured(FieldedSearch.fuzzyTopK(spark, fields, "w1x", 10).collect()), 4, 116L, 0L),
      ("wildcardTopK", measured(FieldedSearch.wildcardTopK(spark, fields, "w?1*", 10).collect()), 4, 595L, 0L),
      ("phraseTopK", measured(FieldedSearch.phraseTopK(spark, fields, q, 10).collect()), 4, 44L, 40L),
      ("topKMulti", measured(FieldedSearch.topKMulti(spark, families, q, 10).collect()), 4, 45L, 0L),
      ("combinedFieldsTopK", measured(FieldedSearch.combinedFieldsTopK(spark, fields, q, 10).collect()), 9, 90L, 0L),
      ("termsAggFielded", measured(Facets.termsAggFielded(spark, fields, q, "or").collect()), 5, 45L, 0L),
      ("dateHistogramFielded", measured(Facets.dateHistogramFielded(spark, fields, q, "or").collect()), 3, 45L, 0L))
    calls.foreach { case (what, (jobs, blocks, posBlocks), maxJobs, wantBlocks, wantPos) =>
      info(s"$what: ${jobs.size} jobs, $blocks blocks, $posBlocks position blocks")
      assertNoInference(what, jobs)
      assert(jobs.size <= maxJobs, s"$what ran ${jobs.size} jobs: $jobs")
      assert(blocks == wantBlocks, s"$what decoded $blocks blocks")
      assert(posBlocks == wantPos, s"$what decoded $posBlocks position blocks")
      if (what.endsWith("Fielded"))
        assert(!jobs.flatten.exists(_.startsWith("collect at MultiSearcher.scala")),
          s"$what read the dictionary: $jobs")
    }
    new scala.reflect.io.Directory(new java.io.File(title)).deleteRecursively()
  }

  test("an upsert runs at most 10 jobs, as many into a family of 1 older segment as of 3") {
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 4, blockSize = 16)
    // rows 0..99 and one older segment per further 100 rows; the batch
    // re-indexes 20 rows of each older segment and adds 40 fresh ones
    val urls = (0L until 400L).map(i => i -> PagesGen.pageFor(i).url).sortBy(_._2).map(_._1)
    def pagesOf(rows: Seq[Long]) =
      spark.createDataset(rows).repartition(4).map(i => PagesGen.pageFor(i))
    def upsertInto(olderSegs: Int): (Seq[Seq[String]], String) = {
      val root = Files.createTempDirectory("graft-jobs-upsert").toString
      (0 until olderSegs).foreach { s =>
        IndexBuilder.build(spark, pagesOf(urls.slice(s * 100, s * 100 + 100)), s"$root/s$s", cfg)
        SegmentFamily.append(spark, root, s"$root/s$s")
      }
      val batch = (0 until olderSegs).flatMap(s => urls.slice(s * 100, s * 100 + 20)) ++ urls.slice(360, 400)
      val jobs = jobsOf(SegmentFamily.upsert(spark, root, pagesOf(batch), "up", cfg))
      (0 until olderSegs).foreach(s => assert(Tombstones.count(s"$root/s$s") == 20L, s"segment s$s"))
      (jobs, root)
    }
    val (one, root1) = upsertInto(1)
    val (three, root3) = upsertInto(3)
    info(s"an upsert ran ${one.size} jobs: $one")
    assert(one.size <= 10, s"an upsert into one older segment ran ${one.size} jobs: $one")
    assert(three.size == one.size, s"an upsert into three older segments ran ${three.size} jobs: $three")
    Seq(root1, root3).foreach(r => new scala.reflect.io.Directory(new java.io.File(r)).deleteRecursively())
  }

  test("MultiSearcher.dfOf from two threads equals the serial answers") {
    val a = Seq("w0", "w1", "w2", "nosuchterm")
    val b = Seq("w2", "w3", "w1", "w4")
    val serialA = new MultiSearcher(spark, Seq(dir)).dfOf(a)
    val serialB = new MultiSearcher(spark, Seq(dir)).dfOf(b)
    assert(serialA.size == 3 && serialB.size == 4)
    val shared = new MultiSearcher(spark, Seq(dir))
    val start = new CyclicBarrier(2)
    def call(ts: Seq[String]) = new Callable[Map[String, Long]] {
      def call(): Map[String, Long] = { start.await(60, TimeUnit.SECONDS); shared.dfOf(ts) }
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(call(a))
      val fb = pool.submit(call(b))
      assert(fa.get(120, TimeUnit.SECONDS) == serialA)
      assert(fb.get(120, TimeUnit.SECONDS) == serialB)
    } finally pool.shutdown()
    // answers now come from the memo, still equal
    assert(shared.dfOf(a ++ b) == serialA ++ serialB)
  }
}
