package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VariantRenderer._
import graft.index.{IndexBuilder, MultiIndexer}
import graft.index.IndexBuilder.BuildConfig
import graft.sources.{PagesGen, TableIO}

class MiscOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("family snapshot: point-in-time copy serves identical results, isolated from source mutations") {
    import graft.index.SegmentFamily
    import graft.sources.HtmlText
    val root = Files.createTempDirectory("fam-snap").toString
    val dst = Files.createTempDirectory("fam-snap-dst").toString + "/snap"
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32)
    def pagesOf(from: Long, until: Long) =
      spark.createDataset((from until until).map { i =>
        val t = PagesGen.textFor(i)
        val url = f"s/$i%08d"
        Page(url, new java.sql.Timestamp(1609459200000L + i), HtmlText.wrap(url, t), t, "en")
      })
    SegmentFamily.upsert(spark, root, pagesOf(0, 150), "seg-a", cfg)
    // overwrite some urls → tombstones in seg-a must ride the snapshot
    SegmentFamily.upsert(spark, root, pagesOf(100, 200), "seg-b", cfg)
    val before = SegmentFamily.searcher(spark, root).topK(Seq("w1", "w2"), "or", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val segs = SegmentFamily.snapshot(root, dst)
    assert(segs.map(s => s.dir.substring(s.dir.lastIndexOf('/') + 1)) == Seq("seg-a", "seg-b"))
    val snapGot = SegmentFamily.searcher(spark, dst).topK(Seq("w1", "w2"), "or", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(snapGot == before, "snapshot serves the same ranking")
    // mutate the SOURCE after the snapshot: upsert everything away
    SegmentFamily.upsert(spark, root, pagesOf(0, 200), "seg-c", cfg)
    val snapAfter = SegmentFamily.searcher(spark, dst).topK(Seq("w1", "w2"), "or", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(snapAfter == before, "snapshot unaffected by source mutations")
    assert(SegmentFamily.read(dst).map(_.n_docs) == SegmentFamily.read(root).map(_.n_docs).take(2))
  }

  test("variant renderer golden cases (P9 semantics)") {
    assert(render(U) == "")
    assert(render(S("hello")) == "hello")
    assert(render(B(true)) == "true")
    assert(render(B(false)) == "false")
    assert(render(R("e1cib/data/Catalog.Test")) == "e1cib/data/Catalog.Test")
    assert(render(P(Seq(S("a"), S("b")))) == "Item 1: a\nItem 2: b")
    // nested list indents, undefined renders empty, outer trim applies
    assert(
      render(P(Seq(S("x"), P(Seq(R("r1"), U))))) ==
        "Item 1: x\nItem 2:   Item 1: r1\n  Item 2:"
    )
    assert(render(P(Nil)) == "")
  }

  test("build + delete + search through an explicit file:// URI (FS-API control plane)") {
    // The control plane (meta, checkpoints, manifests, tombstones) speaks
    // the Hadoop FileSystem API — same code path a hdfs:///s3a:// index
    // takes. A java.nio control plane fails on the scheme'd path at the
    // first manifest write; this drives build → upsert-family → delete →
    // search end-to-end through the URI form.
    import org.apache.spark.sql.functions.col
    val local = Files.createTempDirectory("graft-uri").toString
    val root = s"file://$local"
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32)
    val idx = s"$root/idx"
    IndexBuilder.build(spark, PagesGen.pages(spark, 300, 4), idx, cfg)
    assert(IndexBuilder.completedUnits(idx).contains("done"))
    assert(IndexBuilder.readFormatVersion(idx) == IndexBuilder.FormatVersion)

    val before = graft.query.Search.topK(spark, idx, Seq("w1", "w2"), "or", 5).collect()
    assert(before.length == 5)
    // tombstone one of the current top hits through the URI path too
    val victim = before.head.getLong(0)
    assert(graft.index.Tombstones.delete(spark, idx, col("doc_id") === victim) == 1L)
    val after = graft.query.Search.topK(spark, idx, Seq("w1", "w2"), "or", 5).collect()
    assert(!after.map(_.getLong(0)).contains(victim), "tombstone ignored via file:// URI")

    // family manifest + compaction lifecycle on the URI form
    import graft.index.SegmentFamily
    SegmentFamily.append(spark, root, idx)
    assert(SegmentFamily.read(root).map(_.n_docs) == Seq(300L))
    graft.sources.Fsx.delete(local)
    assert(!graft.sources.Fsx.exists(idx))
  }

  test("multi-indexer: registry diff builds added, retires removed (S6/T9)") {
    val corpora = Files.createTempDirectory("mi-corpora").toString
    val indexes = Files.createTempDirectory("mi-indexes").toString
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32)

    def writeCorpus(name: String, from: Long, until: Long): Unit =
      spark.range(from, until, 1, 2).map(i => PagesGen.pageFor(i))
        .write.mode("overwrite").parquet(s"$corpora/$name")

    writeCorpus("alpha", 0, 100)
    writeCorpus("beta", 100, 200)
    val r1 = MultiIndexer.sync(spark, corpora, indexes, cfg)
    assert(r1.added == Seq("alpha", "beta") && r1.removed.isEmpty)
    assert(IndexBuilder.completedUnits(s"$indexes/idx-alpha").contains("done"))

    // registry change: beta vanishes, gamma appears (≙ ClstWatcher diff)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$corpora/beta"))
    writeCorpus("gamma", 200, 300)
    val r2 = MultiIndexer.sync(spark, corpora, indexes, cfg)
    assert(r2.added == Seq("gamma"))
    assert(r2.removed == Seq("idx-beta"))
    assert(r2.kept == Seq("idx-alpha"))
    assert(!new java.io.File(s"$indexes/idx-beta").exists())
    assert(IndexBuilder.completedUnits(s"$indexes/idx-gamma").contains("done"))

    // mask filters corpora (≙ manager Mask config)
    writeCorpus("skipme", 300, 320)
    val r3 = MultiIndexer.sync(spark, corpora, indexes, cfg, mask = "^(alpha|gamma)$")
    assert(r3.added.isEmpty && r3.kept.sorted == Seq("idx-alpha", "idx-gamma"))
  }

  test("TableIO: immutable snapshots, atomic manifest, partition listing") {
    val dir = Files.createTempDirectory("tableio").toString + "/t"
    val df1 = Seq((1, "a", "p1"), (2, "b", "p2")).toDF("id", "v", "part")
    val id1 = TableIO.commitSnapshot(df1, dir, Seq("part"))
    assert(id1 == 1L)
    val df2 = Seq((3, "c", "p1")).toDF("id", "v", "part")
    val id2 = TableIO.commitSnapshot(df2, dir, Seq("part"))
    assert(id2 == 2L)
    assert(TableIO.snapshotIds(dir) == Seq(1L, 2L))
    // latest snapshot read
    assert(TableIO.readSnapshot(spark, dir).count() == 1)
    // time travel to snapshot 1 — immutable
    val s1 = TableIO.readSnapshot(spark, dir, Some(1L))
    assert(s1.count() == 2)
    assert(s1.select("part").distinct().collect().map(_.getString(0)).sorted.toSeq == Seq("p1", "p2"))
  }

  test("TableIO: a second manifest for an existing snapshot id fails; every snapshot stays readable") {
    val dir = Files.createTempDirectory("tableio-race").toString + "/t"
    // committer 1 picked id 1 and wrote its data; committer 2 picks id 1 too and publishes first
    var raced = false
    graft.sources.Fsx.onCommitStep = (step, path) =>
      if (!raced && step == "written" && path.endsWith("manifest-1.json")) {
        raced = true
        assert(TableIO.commitSnapshot(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir) == 1L)
      }
    val e = try intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      TableIO.commitSnapshot(Seq((3, "c")).toDF("id", "v"), dir))
    finally graft.sources.Fsx.onCommitStep = (_, _) => ()
    assert(raced && e.getMessage.contains("manifest-1.json"), e.getMessage)
    assert(TableIO.snapshotIds(dir) == Seq(1L))
    assert(TableIO.readSnapshot(spark, dir, Some(1L)).count() == 2, "snapshot 1 was overwritten")
    assert(TableIO.commitSnapshot(Seq((3, "c")).toDF("id", "v"), dir) == 2L)
    assert(TableIO.readSnapshot(spark, dir).count() == 1 && TableIO.readSnapshot(spark, dir, Some(1L)).count() == 2)
  }

  test("IndexJob CLI: build from parquet pages, resume no-op, search matches oracle") {
    val base = Files.createTempDirectory("indexjob").toString
    val pagesPath = s"$base/pages"
    val idxDir = s"$base/idx"
    spark.range(0L, 300L, 1, 3).map(i => PagesGen.pageFor(i))
      .write.parquet(pagesPath)

    IndexJob.run(spark, Seq("build", pagesPath, idxDir, "--partitions=4", "--groups=2", "--slices=4", "--block=32"))
    assert(IndexBuilder.completedUnits(idxDir).contains("done"))
    // re-submitting the same command resumes to an immediate no-op: no commit
    val version = graft.sources.Fsx.latest(idxDir).version
    IndexJob.run(spark, Seq("build", pagesPath, idxDir, "--partitions=4", "--groups=2", "--slices=4", "--block=32"))
    assert(graft.sources.Fsx.latest(idxDir).version == version)

    // oracle corpus keyed by the engine's docID convention: url sort rank
    val corpus = (0L until 300L).map { i => val p = PagesGen.pageFor(i); (p.url, p.text) }
      .sortBy(_._1).zipWithIndex.map { case ((_, t), id) => (id.toLong, t) }
    val expected = graft.query.NaiveBm25.topK(corpus, Seq("w1", "w2"), "or", 5)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      IndexJob.run(spark, Seq("search", idxDir, "or", "5", "w1", "w2"))
    }
    val got = out.toString.trim.split("\n").map { l =>
      val Array(id, s) = l.split("\t"); (id.toLong, s.toDouble)
    }
    assert(got.length == expected.length)
    expected.zip(got).foreach { case (e, (gid, gs)) =>
      assert(gid == e.docId && math.abs(gs - e.score) < 1e-9)
    }

    // typed filter flags go through the sidecar path (PagesGen langs vary)
    val langs = (0L until 300L).map { i => val p = PagesGen.pageFor(i); (p.url, p.lang) }
      .sortBy(_._1).map(_._2).toArray
    val expF = graft.query.NaiveBm25.topKFiltered(corpus, Seq("w1", "w2"), "or", 5,
      id => langs(id.toInt) == "ru")
    val outF = new java.io.ByteArrayOutputStream()
    Console.withOut(outF) {
      IndexJob.run(spark, Seq("search", idxDir, "or", "5", "w1", "w2", "--lang=ru"))
    }
    val gotF = outF.toString.trim.split("\n").filter(_.nonEmpty).map(_.split("\t")(0).toLong)
    assert(gotF.toSeq == expF.map(_.docId), "CLI --lang filter (sidecar path)")

    // round-4 commands: every new read surface is reachable via the CLI
    def cli(args: String*): Seq[String] = {
      val o = new java.io.ByteArrayOutputStream()
      Console.withOut(o) { IndexJob.run(spark, args.toSeq) }
      o.toString.trim.split("\n").filter(_.nonEmpty).toSeq
    }
    // count ≡ distinct matched docs
    val matchedN = corpus.count { case (_, t) =>
      val toks = graft.functions.Analyzer.tokenize(t).toSet
      toks.contains("w1") || toks.contains("w2")
    }
    assert(cli("count", idxDir, "or", "w1", "w2") == Seq(s"count\t$matchedN"), "CLI count")
    // sort-search: newest-first ids match the library call
    val sortLib = graft.query.SortBy.topKByAttr(spark, idxDir, Seq("w1", "w2"), "or", "warc_ts", 5)
      .collect().map(r => s"${r.getLong(0)}\t${r.getLong(1)}").toSeq
    assert(cli("sort-search", idxDir, "or", "5", "warc_ts", "w1", "w2") == sortLib, "CLI sort-search")
    // collapse-search: one hit per lang
    val coll = cli("collapse-search", idxDir, "or", "5", "lang", "w1", "w2")
    assert(coll.map(_.split("\t")(0)).distinct.size == coll.size && coll.nonEmpty, "CLI collapse")
    // query (the search bar): a composed query_string ≡ the library call
    val qsLib = graft.query.QueryString
      .topK(spark, idxDir, "lang:ru AND (w1 OR w2) -w3", 5)
      .collect().map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").toSeq
    assert(cli("query", idxDir, "5", "lang:ru", "AND", "(w1", "OR", "w2)", "-w3") == qsLib,
      "CLI query_string")
    // wildcard-search ≡ library wildcard
    val wildLib = graft.query.Search.wildcardTopK(spark, idxDir, "w1?", 5)
      .collect().map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").toSeq
    assert(cli("wildcard-search", idxDir, "5", "w1?") == wildLib, "CLI wildcard-search")
    // significant + facet-split produce well-formed rows
    assert(cli("significant", idxDir, "or", "lang", "w1").forall(_.split("\t").length == 4),
      "CLI significant row shape")
    assert(cli("facet-split", idxDir, "or", "lang", "month", "w1").forall(_.split("\t").length == 3),
      "CLI facet-split row shape")
    // round-5 commands: slop ≡ library sloppy phrase; mlt/suggest/top-hits reachable
    val slopLib = graft.query.Search.phraseTopK(spark, idxDir, Seq("w1", "w2"), 5, slop = 3)
      .collect().map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").toSeq
    assert(cli("phrase", idxDir, "5", "w1", "w2", "--slop=3") == slopLib, "CLI phrase --slop")
    val mltLib = graft.query.Search.moreLikeThis(spark, idxDir, 0L, 5, maxQueryTerms = 5)
      .collect().map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").toSeq
    assert(cli("mlt", idxDir, "5", "0", "--max-terms=5") == mltLib, "CLI mlt")
    assert(cli("suggest", idxDir, "w1x").forall(_.split("\t").length == 2), "CLI suggest shape")
    val th = cli("top-hits", idxDir, "or", "lang", "w1", "w2", "--size=2", "--hits=2")
    assert(th.nonEmpty && th.forall(_.split("\t").length == 5), "CLI top-hits shape")
    // new aggs + query types reachable and library-identical
    assert(cli("facet-stats", idxDir, "or", "doc_len", "w1", "w2").head.startsWith("n_docs\t"),
      "CLI facet-stats shape")
    val tsLib = graft.query.Facets.termsStatsAgg(spark, idxDir, Seq("w1", "w2"), "or",
      "lang", "doc_len", size = 3)
      .collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t${r.getLong(3)}\t${r.getLong(4)}\t${r.getDouble(5)}").toSeq
    assert(cli("facet-terms-stats", idxDir, "or", "lang", "doc_len", "w1", "w2", "--size=3") == tsLib,
      "CLI facet-terms-stats")
    // facet-multi needs two DISTINCT keyword fields (this index declares
    // only lang — the loud contract; the real kw×kw path is covered in
    // BoolDeleteSpec on a custom-schema index)
    intercept[IllegalArgumentException] {
      cli("facet-multi", idxDir, "or", "lang", "lang", "w1")
    }
    val fLib = graft.query.Facets.filtersAgg(spark, idxDir, Seq("w1", "w2"), "or",
      Seq(("hot", Seq("w0"), "or")))
      .collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").toSeq
    assert(cli("facet-filters", idxDir, "or", "hot:or:w0", "w1", "w2") == fLib, "CLI facet-filters")
    val ppLib = graft.query.Search.phrasePrefixTopK(spark, idxDir, Seq("w2", "w1"), 5)
      .collect().map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").toSeq
    assert(cli("phrase-prefix", idxDir, "5", "w2", "w1") == ppLib, "CLI phrase-prefix")
    val synLib = graft.query.Search.synonymTopK(spark, idxDir,
      Seq(Seq("w2"), Seq("w3", "w5")), "or", 5)
      .collect().map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").toSeq
    assert(cli("synonym-search", idxDir, "or", "5", "w2", "w3,w5") == synLib, "CLI synonym-search")
    val dmLib = graft.query.Search.disMaxTopK(spark, idxDir, Seq("w1", "w2"), 5,
      tieBreaker = 0.3)
      .collect().map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").toSeq
    assert(cli("dismax-search", idxDir, "5", "w1", "w2", "--tie=30") == dmLib, "CLI dismax")
    val nMatch = graft.query.Search.exportMatches(spark, idxDir, Seq("w1", "w2"), "or").count()
    assert(cli("export", idxDir, "or", "w1", "w2") == Seq(s"matches\t$nMatch"), "CLI export count")
  }

  test("IndexJob CLI --retries: driver retry resumes from checkpoints to a complete index") {
    val base = Files.createTempDirectory("indexjob-retry").toString
    val pagesPath = s"$base/pages"
    spark.range(0L, 200L, 1, 2).map(i => PagesGen.pageFor(i)).write.parquet(pagesPath)
    // attempt 1 dies after 2 of 4 groups; the in-process retry resumes the
    // remaining groups (the chaos trigger counts only groups built PER
    // attempt, so the resumed attempt completes)
    IndexJob.run(spark, Seq("build", pagesPath, s"$base/idx",
      "--partitions=4", "--groups=4", "--slices=4", "--block=32",
      "--fail-after-groups=2", "--retries=1"))
    assert(IndexBuilder.completedUnits(s"$base/idx").contains("done"))
    // persistent failure exhausts retries and propagates
    intercept[Exception] {
      IndexJob.run(spark, Seq("build", s"$base/nope", s"$base/idx2", "--retries=2"))
    }
  }

  test("IndexJob CLI rejects an unknown or retired flag by name before doing anything") {
    val base = Files.createTempDirectory("indexjob-flags").toString
    Seq("--slice=8", "--combine=0", "--positions").foreach { f =>
      val e = intercept[IllegalArgumentException](
        IndexJob.run(spark, Seq("build", s"$base/pages", s"$base/idx", "--partitions=4", f)))
      assert(e.getMessage.contains(f.takeWhile(_ != '=')), e.getMessage)
    }
    assert(!graft.sources.Fsx.exists(s"$base/idx"), "a rejected command wrote nothing")
  }

  test("IndexJob CLI: delete marks docs, purge rewrites without them") {
    val base = Files.createTempDirectory("indexjob-del").toString
    val pagesPath = s"$base/pages"
    spark.range(0L, 300L, 1, 2).map(i => PagesGen.pageFor(i)).write.parquet(pagesPath)
    IndexJob.run(spark, Seq("build", pagesPath, s"$base/idx",
      "--partitions=4", "--groups=2", "--slices=4", "--block=64"))
    val before = graft.query.Search.topK(spark, s"$base/idx", Seq("w1"), "or", 5)
      .collect().map(_.getLong(0))
    IndexJob.run(spark, Seq("delete", s"$base/idx", "--lang=de"))
    assert(graft.index.Tombstones.count(s"$base/idx") > 0)
    val langOf = spark.read.parquet(s"$base/idx/docs")
      .select("doc_id", "lang").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val after = graft.query.Search.topK(spark, s"$base/idx", Seq("w1"), "or", 5)
      .collect().map(_.getLong(0))
    assert(after.forall(langOf(_) != "de"), "deleted lang excluded via CLI")
    assert(before.exists(langOf(_) == "de") || before.toSeq != after.toSeq,
      "fixture must make the delete observable")
    IndexJob.run(spark, Seq("purge", s"$base/idx", s"$base/purged"))
    assert(graft.index.Tombstones.count(s"$base/purged") == 0)
    val nP = IndexBuilder.readStats(spark, s"$base/purged").n_docs
    assert(nP == langOf.values.count(_ != "de"), "purged stats count survivors only")
  }

  test("IndexJob CLI: index-stats reports corpus, layout, deletes, lineage") {
    val base = Files.createTempDirectory("indexjob-stats").toString
    val pagesPath = s"$base/pages"
    spark.range(0L, 120L, 1, 2).map(i => PagesGen.pageFor(i)).write.parquet(pagesPath)
    IndexJob.run(spark, Seq("build", pagesPath, s"$base/idx",
      "--partitions=4", "--groups=2", "--slices=4", "--block=64"))
    IndexJob.run(spark, Seq("delete", s"$base/idx", "--lang=de"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      IndexJob.run(spark, Seq("index-stats", s"$base/idx"))
    }
    val s = out.toString
    assert(s.contains("n_docs\t120"), s)
    assert("deleted_docs\t[1-9]".r.findFirstIn(s).isDefined, s)
    assert(s.contains("n_groups\t2\tn_slices\t4"), s)
    assert("postings\t\\d+".r.findFirstIn(s).isDefined, s)
  }

  test("IndexJob CLI: compact + search-family round trip") {
    import graft.index.SegmentFamily
    val base = Files.createTempDirectory("indexjob-fam").toString
    val segs = (0 until 3).map { c =>
      val dir = s"$base/segment-$c"
      val pages = spark.range(c * 100L, (c + 1) * 100L, 1, 2).map(i => PagesGen.pageFor(i))
      IndexBuilder.build(spark, pages, dir,
        graft.index.IndexBuilder.BuildConfig(nPartitions = 2, nGroups = 1, nSlices = 2, blockSize = 32))
      SegmentFamily.Seg(dir, IndexBuilder.readStats(spark, dir).n_docs)
    }
    SegmentFamily.write(base, segs)
    IndexJob.run(spark, Seq("compact", base, "--merge-factor=3"))
    assert(SegmentFamily.read(base).length == 1, "3 equal segments must fold into one")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      IndexJob.run(spark, Seq("search-family", base, "or", "5", "w1", "w2"))
    }
    assert(out.toString.trim.split("\n").count(_.contains("\t")) > 0)
  }
}
