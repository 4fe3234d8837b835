package graft

import java.nio.file.Files
import scala.util.Try
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.sources.{Fsx, HtmlText, PagesGen}

/** A batch within the flush budget is indexed on the driver
  * ([[IndexBuilder.flushOrBuild]]); the segment it writes must be
  * row-identical to [[IndexBuilder.build]]'s with the same config: docs
  * (with text, slice, grp), postings (every byte column and bound), terms,
  * the attrs slice files byte for byte, stats and stats.json, and the
  * build metrics' sums. The corpus holds empty and whitespace-only texts,
  * Cyrillic texts, and urls that differ beyond the BMP, where UTF-8 order
  * (dense ids) differs from `String.compareTo`.
  */
class FlushSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def page(url: String, i: Long, text: String): Page =
    Page(url, new java.sql.Timestamp(1609459200000L + i * 7919000L), HtmlText.wrap(url, text), text,
      if (i % 3 == 0) "ru" else "en")

  /** Generated pages plus urls ending in U+FFFD, U+1F600 and U+E000:
    * String.compareTo puts the surrogate pair (0xD83D) before U+E000 and
    * U+FFFD, UTF-8 puts it after both.
    */
  private lazy val corpus: Seq[Page] =
    (0L until 160L).map(PagesGen.pageFor(_)) ++
      Seq("\uFFFD", "\uD83D\uDE00", "\uE000", "\uD83D\uDE00x").zipWithIndex.map { case (tail, j) =>
        page(s"https://site0.example/p/$tail", 1000L + j, s"w1 w2 привет мир \uD83D\uDE00 emoji$j")
      }

  private def pagesDs = spark.createDataset(corpus).repartition(3)

  /** The test seam: true when `pages` were flushed. */
  private def flushOrBuild(dir: String, cfg: BuildConfig, maxRows: Int, maxTextBytes: Long,
                           pages: => org.apache.spark.sql.Dataset[Page] = pagesDs): Boolean =
    IndexBuilder.flushOrBuild(spark, pages, dir, cfg, maxRows, maxTextBytes, Int.MaxValue)

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def rows(dir: String, table: String): Seq[String] =
    spark.read.option("basePath", s"$dir/$table").parquet(s"$dir/$table").collect()
      .map(r => r.toSeq.map {
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted

  private def columns(dir: String, table: String): Seq[String] =
    spark.read.option("basePath", s"$dir/$table").parquet(s"$dir/$table").schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").toSeq

  private def attrFiles(dir: String): Map[String, Seq[Byte]] =
    Fsx.listNames(s"$dir/attrs").filter(_.endsWith(".bin"))
      .map(n => n -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/attrs/$n")).toSeq).toMap

  /** (terms, postings, blocks, bytes) summed over a build's metrics rows. */
  private def metricSums(dir: String): Seq[Long] = {
    val ms = IndexBuilder.readMetrics(spark, dir).collect()
    Seq("terms", "postings", "blocks", "bytes").map(c => ms.map((r: Row) => r.getAs[Long](c)).sum)
  }

  private def assertSameIndex(got: String, want: String, cfg: BuildConfig, what: String): Unit = {
    Seq("docs", "postings", "terms", "stats").foreach { t =>
      assert(columns(got, t) == columns(want, t), s"$what: $t columns")
      assert(rows(got, t) == rows(want, t), s"$what: $t rows")
    }
    assert(Fsx.readUtf8(s"$got/stats.json") == Fsx.readUtf8(s"$want/stats.json"), s"$what: stats.json")
    assert(Fsx.readUtf8(s"$got/meta.json") == Fsx.readUtf8(s"$want/meta.json"), s"$what: meta.json")
    val attrs = attrFiles(want)
    assert(attrs.nonEmpty && attrFiles(got) == attrs, s"$what: attrs slice files")
    assert(IndexBuilder.completedUnits(got) == IndexBuilder.completedUnits(want), s"$what: checkpoint units")
    // `terms` counts a term once per posting partition it lands in, so
    // its sum is the build's only where each term lands in one partition
    val (g, w) = (metricSums(got), metricSums(want))
    if (cfg.nSlices == 1) assert(g == w, s"$what: metrics $g vs $w")
    else assert(g.tail == w.tail, s"$what: metrics $g vs $w")
  }

  private val configs = for {
    (nSlices, nGroups) <- Seq((1, 1), (4, 1), (4, 2))
    positions <- Seq(true, false)
  } yield BuildConfig(nPartitions = 4, nGroups = nGroups, nSlices = nSlices, blockSize = 16,
    positions = positions)

  configs.foreach { cfg =>
    test(s"flush ≡ build: nSlices ${cfg.nSlices}, nGroups ${cfg.nGroups}, positions ${cfg.positions}") {
      val built = tmp("flush-built")
      IndexBuilder.build(spark, pagesDs, built, cfg)
      val flushed = tmp("flush-flushed")
      assert(flushOrBuild(flushed, cfg, IndexBuilder.FlushMaxRows, IndexBuilder.FlushMaxTextBytes),
        "the corpus fits the flush budget")
      val byId = IndexBuilder.readDocs(spark, built).collect().sortBy(_.doc_id).map(_.url).toSeq
      assert(byId != corpus.map(_.url).sorted, "the corpus orders differently in UTF-16")
      assertSameIndex(flushed, built, cfg, s"$cfg")
    }
  }

  test("an input over either cap takes the distributed build, with the same rows") {
    val cfg = BuildConfig(nPartitions = 4, nGroups = 2, nSlices = 4, blockSize = 16)
    val built = tmp("flush-cap-built")
    IndexBuilder.build(spark, pagesDs, built, cfg)
    val n = corpus.size
    val textBytes = corpus.map(2L * _.text.length).sum
    val overRows = tmp("flush-cap-rows")
    assert(!flushOrBuild(overRows, cfg, n - 1, textBytes))
    assertSameIndex(overRows, built, cfg, "over the row cap")
    val overBytes = tmp("flush-cap-bytes")
    assert(!flushOrBuild(overBytes, cfg, n, textBytes - 1))
    assertSameIndex(overBytes, built, cfg, "over the text cap")
    // exactly at both caps still flushes
    val atCaps = tmp("flush-cap-at")
    assert(flushOrBuild(atCaps, cfg, n, textBytes))
    assertSameIndex(atCaps, built, cfg, "at the caps")
  }

  test("a flush killed after staged resumes through build to an identical segment") {
    val cfg = BuildConfig(nPartitions = 4, nGroups = 2, nSlices = 4, blockSize = 16)
    val built = tmp("flush-resume-built")
    IndexBuilder.build(spark, pagesDs, built, cfg)
    val dir = tmp("flush-resume")
    val killed = Try(IndexBuilder.flushOrBuild(spark, pagesDs, dir, cfg,
      IndexBuilder.FlushMaxRows, IndexBuilder.FlushMaxTextBytes, 0))
    assert(killed.isFailure)
    assert(IndexBuilder.completedUnits(dir) == Set("staged"))
    // the committed unit routes the retry to build, which resumes it
    assert(!flushOrBuild(dir, cfg, IndexBuilder.FlushMaxRows, IndexBuilder.FlushMaxTextBytes))
    assertSameIndex(dir, built, cfg, "resumed")
    // and the resumed metrics are build's own, per partition
    assert(rows(dir, "build_metrics") == rows(built, "build_metrics"))
  }

  /** Bytes the gate's tasks sent to the driver while `body` ran: the
    * result tasks of the `runJob` jobs IndexBuilder starts.
    */
  private def gateResultBytes(body: => Unit): Long = {
    val sc = spark.sparkContext
    val gateStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.name.startsWith("runJob at IndexBuilder.scala")) gateStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (gateStages.contains(e.stageId) && e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.resultSize)
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    assert(!gateStages.isEmpty, "the gate ran no runJob stage")
    bytes.get
  }

  test("the gate takes in at most the budget, however many partitions pass it") {
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 4, blockSize = 16)
    val pages = PagesGen.pages(spark, 4000, 40)
    val utf8 = pages.map(_.text.getBytes("UTF-8").length.toLong).collect().sum
    // a quarter of the text: every partition fits the cap on its own, the
    // input does not
    val cap = pages.map(2L * _.text.length).collect().sum / 4
    val dir = tmp("flush-gate-bound")
    val shipped = gateResultBytes(assert(!flushOrBuild(dir, cfg, Int.MaxValue, cap, pages)))
    assert(shipped < utf8 / 4, s"the gate shipped $shipped bytes of a $utf8-byte text")
    assert(IndexBuilder.readDocs(spark, dir).count() == 4000L)
  }

  test("a skewed input within the budget is gathered by a second job and flushed") {
    val cfg = BuildConfig(nPartitions = 4, nGroups = 2, nSlices = 4, blockSize = 16)
    val built = tmp("flush-skew-built")
    IndexBuilder.build(spark, pagesDs, built, cfg)
    val textBytes = corpus.map(2L * _.text.length).sum
    // every row in one partition of eight: over its eighth of the budget
    val skewed = spark.createDataset(corpus).repartition(8, lit(0))
    val dir = tmp("flush-skew")
    var flushed = false
    val shipped = gateResultBytes { flushed = flushOrBuild(dir, cfg, corpus.size, textBytes, skewed) }
    assert(flushed, "the skewed input fits the budget")
    assert(shipped > 0L)
    assertSameIndex(dir, built, cfg, "skewed")
  }
}
