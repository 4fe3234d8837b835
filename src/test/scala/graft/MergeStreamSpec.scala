package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.index.{IndexBuilder, PostingsRef, SegmentMerge}
import graft.index.IndexBuilder.BuildConfig
import graft.query.{NaiveBm25, Search}
import graft.sources.{HtmlText, PagesGen}
import graft.streaming.StreamingIngest

class MergeStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pagesWithPrefix(prefix: String, from: Long, until: Long) = {
    spark.range(from, until, 1, 4).map { i =>
      val text = PagesGen.textFor(i)
      val url = f"$prefix/$i%08d"
      Page(url, new java.sql.Timestamp(1609459200000L + i * 1000L), HtmlText.wrap(url, text), text, "en")
    }
  }

  private def postingKey(r: PostingRow) =
    (r.term, r.slice, r.block_id, r.doc_id_min, r.doc_id_max, r.count,
      r.deltas.toSeq, r.tfs.toSeq, (r.dls.toSeq, r.poss.toSeq, r.max_tf, r.min_dl), r.max_impact)

  private def dumpPostings(p: String) =
    IndexBuilder.readPostings(spark, p).as[PostingRow]
      .collect()
      .map(postingKey)
      .sortBy(t => (t._1, t._2, t._3))
      .toSeq

  test("merge(build(A), build(B)) ≡ build(A ∪ B) when A's urls sort before B's") {
    val cfg = BuildConfig(nPartitions = 8, nGroups = 2, nSlices = 4, blockSize = 32)
    val dA = Files.createTempDirectory("seg-a").toString
    val dB = Files.createTempDirectory("seg-b").toString
    val dM = Files.createTempDirectory("seg-m").toString
    val dU = Files.createTempDirectory("seg-u").toString
    IndexBuilder.build(spark, pagesWithPrefix("a", 0, 400), dA, cfg)
    IndexBuilder.build(spark, pagesWithPrefix("b", 400, 700), dB, cfg)
    SegmentMerge.merge(spark, dA, dB, dM, cfg)
    IndexBuilder.build(
      spark,
      pagesWithPrefix("a", 0, 400).union(pagesWithPrefix("b", 400, 700)),
      dU, cfg
    )
    assert(dumpPostings(dM) == dumpPostings(dU))
    // stats and docs also identical
    val sM = IndexBuilder.readStats(spark, dM)
    val sU = IndexBuilder.readStats(spark, dU)
    assert(sM == sU)
    val docsM = IndexBuilder.readDocs(spark, dM).collect().sortBy(_.doc_id).toSeq
    val docsU = IndexBuilder.readDocs(spark, dU).collect().sortBy(_.doc_id).toSeq
    assert(docsM == docsU)

    // query the two segments DIRECTLY (no physical merge) — global stats,
    // base-offset docIDs: rank-identical to the merged index
    val ms = new graft.query.MultiSearcher(spark, Seq(dA, dB))
    Seq((Seq("w0", "w3"), "or"), (Seq("w1", "w2"), "and"), (Seq("w0"), "or")).foreach {
      case (terms, mode) =>
        val viaMerged = Search.topK(spark, dU, terms, mode, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        val viaSegs = ms.topK(terms, mode, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(viaSegs.map(_._1).toSeq == viaMerged.map(_._1).toSeq, s"$terms/$mode ids")
        viaMerged.zip(viaSegs).foreach { case ((_, a), (_, b)) =>
          assert(math.abs(a - b) < 1e-9, s"$terms/$mode score")
        }
    }
    // phrase across segments
    val phM = Search.phraseTopK(spark, dU, Seq("w0", "w1"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val phS = ms.phraseTopK(Seq("w0", "w1"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(phS.map(_._1).toSeq == phM.map(_._1).toSeq)
    // filtered across segments (lang is constant "en" here — use a date cut)
    val cut = new java.sql.Timestamp(1609459200000L + 350 * 1000L)
    val fM = Search.topK(spark, dU, Seq("w0", "w3"), "or", 10,
      docFilter = col("warc_ts") < lit(cut)).collect().map(_.getLong(0))
    val fS = ms.topK(Seq("w0", "w3"), "or", 10,
      docFilter = col("warc_ts") < lit(cut)).collect().map(_.getLong(0))
    assert(fS.toSeq == fM.toSeq)

    // decode-free fastMerge: pure column remaps, payloads verbatim —
    // rank-identical search results on the stacked index
    val dF = Files.createTempDirectory("seg-f").toString
    SegmentMerge.fastMerge(spark, Seq(dA, dB), dF)
    val sF = IndexBuilder.readStats(spark, dF)
    assert(sF == IndexBuilder.readStats(spark, dU))
    Seq((Seq("w0", "w3"), "or"), (Seq("w1", "w2"), "and")).foreach { case (terms, mode) =>
      val viaMerged = Search.topK(spark, dU, terms, mode, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val viaFast = Search.topK(spark, dF, terms, mode, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(viaFast.map(_._1).toSeq == viaMerged.map(_._1).toSeq, s"fastMerge $terms/$mode")
      viaMerged.zip(viaFast).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-9, s"fastMerge $terms/$mode score")
      }
    }
    val phF = Search.phraseTopK(spark, dF, Seq("w0", "w1"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(phF.map(_._1).toSeq == phM.map(_._1).toSeq, "fastMerge phrase")
  }

  test("chunk exchange ≡ blockify over (term, slice, doc_id)-sorted rows") {
    val d = Files.createTempDirectory("cmb-chk").toString
    val cfg = BuildConfig(nPartitions = 8, nGroups = 2, nSlices = 4, blockSize = 32)
    val n = 400L
    IndexBuilder.build(spark, pagesWithPrefix("c", 0, n), d, cfg)
    // reference: one row per posting, doc i's dense id is i (its url's
    // rank), slices and groups are equal doc ranges
    val rows = (0L until n).flatMap { id =>
      val (dl, tps) = graft.functions.Analyzer.termPositions(PagesGen.textFor(id))
      val slice = (id * cfg.nSlices / n).toInt
      tps.map { case (t, ps) => (t, slice, id, ps.length, dl, graft.functions.Codec.encodePosChunk(ps)) }
    }
    val avgDl = IndexBuilder.readStats(spark, d).avg_dl
    val expected = rows.groupBy(_._2 * cfg.nGroups / cfg.nSlices).toSeq.flatMap { case (g, rs) =>
      PostingsRef.blockify(rs.sortBy(r => (r._1, r._2, r._3)).iterator, g, cfg.blockSize, avgDl)
    }
    assert(dumpPostings(d) == expected.map(postingKey).sortBy(t => (t._1, t._2, t._3)),
      "the chunk exchange must produce the row-by-row blocks")
  }

  test("fused reducer mergeChunksToBlocks ≡ blockify(mergeChunks(_)) on shuffled chunks") {
    // r6 optimization pin: the primitive k-way merge-to-blocks must emit
    // the exact PostingRow stream of the legacy two-stage shape, including
    // multi-chunk runs with interleaved doc ranges and position streams.
    val docs = (0L until 60L).map(i => (i, PagesGen.textFor(i)))
    // two chunk sources with interleaved ids (odd/even) force real merges
    def chunksOf(part: Seq[(Long, String)]) = {
      val byKey = scala.collection.mutable.LinkedHashMap
        .empty[(String, Int), scala.collection.mutable.ArrayBuffer[(Long, Int, Int, Array[Byte])]]
      part.foreach { case (id, text) =>
        val (dl, tps) = graft.functions.Analyzer.termPositions(text)
        tps.foreach { case (t, ps) =>
          byKey.getOrElseUpdate((t, (id % 4).toInt), scala.collection.mutable.ArrayBuffer.empty) +=
            ((id, ps.length, dl, graft.functions.Codec.encodePosChunk(ps)))
        }
      }
      byKey.toSeq.map { case ((t, slice), posts) =>
        val sorted = posts.sortBy(_._1)
        (t, slice,
          sorted.map(_._1).toArray, sorted.map(_._2).toArray, sorted.map(_._3).toArray,
          sorted.flatMap(p => p._4.toSeq).toArray)
      }
    }
    val (evens, odds) = docs.partition(_._1 % 2 == 0)
    val rows = (chunksOf(evens) ++ chunksOf(odds)).map { case (t, slice, ids, tfs, dls, pos) =>
      (t, slice, ids.head, ids.length,
        graft.functions.Codec.encodeDeltas(ids), graft.functions.Codec.encodeInts(tfs),
        graft.functions.Codec.encodeInts(dls), pos)
    }.sortBy(r => (r._1, r._2, r._3))
    def chunkIt = rows.iterator.map(r => (r._1, r._2, r._4, r._5, r._6, r._7, r._8))
    val legacy = PostingsRef
      .blockify(PostingsRef.mergeChunks(chunkIt), grp = 0, blockSize = 16, avgDl = 37.5)
      .toSeq
    val fused = IndexBuilder
      .mergeChunksToBlocks(chunkIt, grp = 0, blockSize = 16, avgDl = 37.5)
      .toSeq
    assert(fused.size == legacy.size)
    fused.zip(legacy).foreach { case (f, l) =>
      assert(f.term == l.term && f.slice == l.slice && f.block_id == l.block_id)
      assert(f.doc_id_min == l.doc_id_min && f.doc_id_max == l.doc_id_max && f.count == l.count)
      assert(f.deltas.toSeq == l.deltas.toSeq && f.tfs.toSeq == l.tfs.toSeq &&
        f.dls.toSeq == l.dls.toSeq && f.poss.toSeq == l.poss.toSeq)
      assert(f.tf_sum == l.tf_sum && f.max_impact == l.max_impact &&
        f.max_tf == l.max_tf && f.min_dl == l.min_dl)
    }
  }

  test("streaming ingest: per-batch segments + checkpoint resume + merged query correctness") {
    val inDir = Files.createTempDirectory("stream-in").toString
    val idxDir = Files.createTempDirectory("stream-idx").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32)

    // chunk 1 arrives (urls sort before chunk 2's)
    pagesWithPrefix("s1", 0, 150).coalesce(1).write.parquet(s"$inDir/c1")
    // file source needs a flat dir of files: write directly with two jobs
    val q1 = StreamingIngest.start(spark, s"$inDir/c1", idxDir, ckpt, cfg)
    q1.awaitTermination()
    val segs1 = new java.io.File(idxDir).list().count(_.startsWith("segment-"))
    assert(segs1 >= 1, "no segments after first stream run")

    // chunk 2 arrives; restarted query must process ONLY the new files
    pagesWithPrefix("s2", 150, 300).coalesce(1).write.mode("append").parquet(s"$inDir/c1")
    val q2 = StreamingIngest.start(spark, s"$inDir/c1", idxDir, ckpt, cfg)
    q2.awaitTermination()
    val segDirs = new java.io.File(idxDir).list().filter(_.startsWith("segment-")).sorted
    assert(segDirs.length >= 2, s"expected new segment after resume, got ${segDirs.toSeq}")

    // merge all segments pairwise and verify BM25 vs the oracle over all docs
    val merged = segDirs.map(s => s"$idxDir/$s").reduce { (a, b) =>
      val out = Files.createTempDirectory("stream-merge").toString
      SegmentMerge.merge(spark, a, b, out, cfg)
      out
    }
    val corpus = IndexBuilder.readDocs(spark, merged).collect().sortBy(_.doc_id).map { d =>
      val i = d.url.split("/").last.toLong
      (d.doc_id, PagesGen.textFor(i))
    }.toSeq
    assert(corpus.size == 300)
    val expected = NaiveBm25.topK(corpus, Seq("w0", "w3"), "or", 10)
    val got = Search.topK(spark, merged, Seq("w0", "w3"), "or", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == expected.map(_.docId))
    expected.zip(got).foreach { case (e, (_, s)) => assert(math.abs(s - e.score) < 1e-9) }

    // the live-serving path: query the streaming segments DIRECTLY (what
    // ES does across its per-bucket indices) — no merge step at all —
    // and match the merged-index answer rank-for-rank
    val live = new graft.query.MultiSearcher(spark, segDirs.map(s => s"$idxDir/$s").toSeq)
    val gotLive = live.topK(Seq("w0", "w3"), "or", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotLive.map(_._1).toSeq == expected.map(_.docId), "segments-direct ids")
    expected.zip(gotLive).foreach { case (e, (_, s)) => assert(math.abs(s - e.score) < 1e-9) }

    // the whole event-log read surface serves the LIVE family directly —
    // newest-first sort, terms facet, prefix rewrite — each identical to
    // the physically merged index (no merge required to read)
    val famDirs = segDirs.map(s => s"$idxDir/$s").toSeq
    val sortFam = graft.query.SortBy.topKByAttrMulti(
      spark, famDirs, Seq("w0", "w3"), "or", "warc_ts", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sortOne = graft.query.SortBy.topKByAttr(
      spark, merged, Seq("w0", "w3"), "or", "warc_ts", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sortFam == sortOne, "family newest-first ≠ merged index")
    val aggFam = graft.query.Facets.termsAggMulti(spark, famDirs, Seq("w0", "w3"), "or")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val aggOne = graft.query.Facets.termsAgg(spark, merged, Seq("w0", "w3"), "or")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(aggFam == aggOne, "family terms facet ≠ merged index")
    // the numeric and date walks: each family partial set combines to the
    // merged index's answer
    import graft.query.Facets
    val q = Seq("w0", "w3")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def sameOnFamily(what: String, fam: org.apache.spark.sql.DataFrame,
                     one: org.apache.spark.sql.DataFrame): Unit = {
      val (f, o) = (rowsOf(fam), rowsOf(one))
      assert(o.nonEmpty && f == o, s"family $what ≠ merged index: $f vs $o")
    }
    sameOnFamily("stats", Facets.statsAggMulti(spark, famDirs, q, "or", "doc_len"),
      Facets.statsAgg(spark, merged, q, "or", "doc_len"))
    sameOnFamily("extended_stats", Facets.extendedStatsAggMulti(spark, famDirs, q, "or", "doc_len"),
      Facets.extendedStatsAgg(spark, merged, q, "or", "doc_len"))
    sameOnFamily("weighted_avg",
      Facets.weightedAvgAggMulti(spark, famDirs, q, "or", "warc_ts", "doc_len"),
      Facets.weightedAvgAgg(spark, merged, q, "or", "warc_ts", "doc_len"))
    sameOnFamily("date_histogram", Facets.dateHistogramMulti(spark, famDirs, q, "or", "hour"),
      Facets.dateHistogram(spark, merged, q, "or", "hour"))
    // the cut at the rarest bucket's count keeps at least one bucket
    val rare = aggOne.map(_._2).min
    sameOnFamily("rare_terms", Facets.rareTermsAggMulti(spark, famDirs, q, "or", rare),
      Facets.rareTermsAgg(spark, merged, q, "or", rare))
    assert(rowsOf(Facets.statsAgg(spark, merged, q, "or", "doc_len")).head.head != 0L,
      "the family checks need matches")
    val preFam = live.prefixTopK("w1", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val preOne = Search.prefixTopK(spark, merged, "w1", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(preFam == preOne, "family prefix ≠ merged index")
    // dis_max, synonyms, phrase-prefix and phrase counts on the live
    // family: the merged index's ids, scores within 1e-9
    def sameHits(what: String, fam: org.apache.spark.sql.DataFrame,
                 one: org.apache.spark.sql.DataFrame): Unit = {
      def hits(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val (f, o) = (hits(fam), hits(one))
      assert(o.nonEmpty && f.map(_._1) == o.map(_._1), s"family $what ids ≠ merged index: $f vs $o")
      f.zip(o).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9, s"family $what score") }
    }
    sameHits("dis_max", live.disMaxTopK(q, 10, tieBreaker = 0.3),
      Search.disMaxTopK(spark, merged, q, 10, tieBreaker = 0.3))
    val groups = Seq(Seq("w0", "w5"), Seq("w3"))
    sameHits("synonyms", live.synonymTopK(groups, "or", 10, mustNot = Seq("w2")),
      Search.synonymTopK(spark, merged, groups, "or", 10, mustNot = Seq("w2")))
    sameHits("phrase-prefix", live.phrasePrefixTopK(Seq("w0", "w1"), 10),
      Search.phrasePrefixTopK(spark, merged, Seq("w0", "w1"), 10))
    val pairs = Seq(("w0", "w1"), ("w1", "w0"), ("w0", "w0"))
    val countsFam = live.phraseCounts(pairs.map { case (a, b) => Seq(a, b) })
    assert(countsFam == pairs.map(Search.phraseCountBatch(spark, merged, pairs)),
      "family phrase counts ≠ merged index")
    assert(countsFam.head > 0 && countsFam.head == Search.phraseCount(spark, merged, Seq("w0", "w1")))
  }

  test("time-bucketed index family: date-ranged search prunes whole month segments") {
    import graft.index.TimeBuckets
    val root = Files.createTempDirectory("graft-buckets").toString
    // pages interleaved across 3 months (2021-01/02/03)
    val pages = spark.range(0, 300, 1, 4).map { i =>
      val month = (i % 3).toInt
      val ts = new java.sql.Timestamp(1609459200000L + month * 31L * 86400000L + i * 60000L)
      val text = PagesGen.textFor(i)
      val url = f"doc://$i%08d"
      Page(url, ts, HtmlText.wrap(url, text), text, "en")
    }
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32)
    val buckets = TimeBuckets.build(spark, pages, root, cfg)
    assert(buckets.map(_.bucket) == Seq("202101", "202102", "202103"))
    assert(buckets.map(_.n_docs).sum == 300)

    val feb1 = java.sql.Timestamp.valueOf("2021-02-01 00:00:00")
    val mar1 = java.sql.Timestamp.valueOf("2021-03-01 00:00:00")
    val (pruned, picked) = TimeBuckets.searcher(spark, root, feb1, mar1)
    assert(picked.map(_.bucket) == Seq("202102"), s"pruning picked ${picked.map(_.bucket)}")

    // pruned answer ≡ querying ALL segments with the same date predicate
    // (global ids stable because bases come from the full manifest)
    val all = new graft.query.MultiSearcher(spark, buckets.map(_.dir))
    val pred = col("warc_ts") >= lit(feb1) && col("warc_ts") < lit(mar1)
    val viaAll = all.topK(Seq("w0", "w1"), "or", 10, docFilter = pred)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val viaPruned = pruned.topK(Seq("w0", "w1"), "or", 10, docFilter = pred)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaAll.nonEmpty)
    assert(viaPruned.map(_._1).toSeq == viaAll.map(_._1).toSeq)
    viaAll.zip(viaPruned).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }

    // sort-by-field over the PRUNED selection: explicit manifest bases
    // keep global ids stable, so the answer equals sorting the full
    // family under the same date filter
    val famBases = buckets.map(_.n_docs).scanLeft(0L)(_ + _).init
    val sortPruned = graft.query.SortBy.topKByAttrMulti(
      spark, picked.map(_.dir), Seq("w0", "w1"), "or", "warc_ts", 10,
      explicitBases = Some(picked.map(b => famBases(buckets.indexWhere(_.bucket == b.bucket)))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sortAll = graft.query.SortBy.topKByAttrMulti(
      spark, buckets.map(_.dir), Seq("w0", "w1"), "or", "warc_ts", 10,
      attrFilter = graft.index.AttrPred.tsRange(feb1, mar1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sortPruned == sortAll, s"pruned sort ≠ filtered family sort: $sortPruned vs $sortAll")

    // retention (ES ILM delete phase): expire everything before Feb —
    // whole-bucket drop, never doc-level deletes
    val dropped = TimeBuckets.expire(root, feb1)
    assert(dropped.map(_.bucket) == Seq("202101"))
    val left = TimeBuckets.readManifest(root)
    assert(left.map(_.bucket) == Seq("202102", "202103"))
    assert(!new java.io.File(dropped.head.dir).exists, "dropped segment dir reclaimed")
    // remaining family still serves (ids compacted — url is the identity)
    val hits = new graft.query.MultiSearcher(spark, left.map(_.dir))
      .topK(Seq("w0", "w1"), "or", 10).collect()
    assert(hits.nonEmpty)
    // cutoff inside a month keeps that whole bucket (month granularity)
    val feb15 = java.sql.Timestamp.valueOf("2021-02-15 00:00:00")
    assert(TimeBuckets.expire(root, feb15).isEmpty)
    assert(TimeBuckets.readManifest(root).map(_.bucket) == Seq("202102", "202103"))
  }

  test("tiered compaction bounds streaming segment count; queries rank-identical") {
    import graft.index.SegmentFamily
    val inDir = Files.createTempDirectory("cmp-in").toString
    val idxDir = Files.createTempDirectory("cmp-idx").toString
    val ckpt = Files.createTempDirectory("cmp-ckpt").toString
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32)
    // 24 files → 6 micro-batches (maxFilesPerTrigger = 4); without a merge
    // policy that's 6 segments and counting
    (0 until 24).foreach { c =>
      pagesWithPrefix("z", c * 20L, (c + 1) * 20L).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val q = StreamingIngest.start(spark, inDir, idxDir, ckpt, cfg, mergeFactor = 3)
    q.awaitTermination()
    val fam = SegmentFamily.read(idxDir)
    assert(fam.map(_.n_docs).sum == 480, s"family lost docs: $fam")
    assert(fam.length <= 3, s"compaction did not bound segment count: ${fam.length} segments")
    assert(fam.exists(_.dir.contains("gen-")), "no merged generation segment present")

    // rank identity vs a one-shot index over the same docs, compared by
    // URL (docID spaces differ by construction) with identical scores
    val oneShot = Files.createTempDirectory("cmp-one").toString
    IndexBuilder.build(spark, pagesWithPrefix("z", 0, 480), oneShot, cfg)
    def urlsOf(segs: Seq[SegmentFamily.Seg]): Map[Long, String] = {
      val bases = segs.map(_.n_docs).scanLeft(0L)(_ + _).init
      segs.zip(bases).flatMap { case (s, base) =>
        IndexBuilder.readDocs(spark, s.dir).collect().map(d => (base + d.doc_id) -> d.url)
      }.toMap
    }
    val famUrls = urlsOf(fam)
    val oneUrls = IndexBuilder.readDocs(spark, oneShot).collect().map(d => d.doc_id -> d.url).toMap
    Seq((Seq("w0", "w3"), "or"), (Seq("w1", "w2"), "and")).foreach { case (terms, mode) =>
      val got = SegmentFamily.searcher(spark, idxDir).topK(terms, mode, 10)
        .collect().map(r => (famUrls(r.getLong(0)), math.round(r.getDouble(1) * 1e9)))
      val want = Search.topK(spark, oneShot, terms, mode, 10)
        .collect().map(r => (oneUrls(r.getLong(0)), math.round(r.getDouble(1) * 1e9)))
      // ties (duplicate texts) may order differently across docID spaces —
      // compare as sorted (score, url) lists
      assert(got.sortBy(x => (-x._2, x._1)).toSeq == want.sortBy(x => (-x._2, x._1)).toSeq,
        s"compacted family answers differ for $terms/$mode")
    }
  }

  test("time-bucket incremental ingest ≡ one-shot build (url+score identity)") {
    import graft.index.TimeBuckets
    def mixedPages(from: Long, until: Long) = spark.range(from, until, 1, 4).map { i =>
      val month = (i % 3).toInt
      val ts = new java.sql.Timestamp(1609459200000L + month * 31L * 86400000L + i * 60000L)
      val text = PagesGen.textFor(i)
      val url = f"doc://$i%08d"
      Page(url, ts, HtmlText.wrap(url, text), text, "en")
    }
    val cfg = BuildConfig(nPartitions = 4, nGroups = 1, nSlices = 2, blockSize = 32)
    val oneRoot = Files.createTempDirectory("tb-one").toString
    val incRoot = Files.createTempDirectory("tb-inc").toString
    TimeBuckets.build(spark, mixedPages(0, 300), oneRoot, cfg)
    // phase 1: first 200 docs; phase 2: absorb the remaining 100
    TimeBuckets.build(spark, mixedPages(0, 200), incRoot, cfg)
    val before = TimeBuckets.readManifest(incRoot)
    val after = TimeBuckets.ingest(spark, mixedPages(200, 300), incRoot, "g1", cfg)
    assert(after.map(_.n_docs).sum == 300)
    assert(after.map(_.bucket) == before.map(_.bucket), "ingest must not invent buckets here")
    // idempotent replay of the same generation
    assert(TimeBuckets.ingest(spark, mixedPages(200, 300), incRoot, "g1", cfg) == after)

    val feb1 = java.sql.Timestamp.valueOf("2021-02-01 00:00:00")
    val apr1 = java.sql.Timestamp.valueOf("2021-04-01 00:00:00")
    def results(root: String): Seq[(String, Long)] = {
      val (s, picked) = TimeBuckets.searcher(spark, root, feb1, apr1)
      val all = TimeBuckets.readManifest(root)
      val bases = all.map(_.n_docs).scanLeft(0L)(_ + _).init
      val urls = all.zip(bases).flatMap { case (b, base) =>
        IndexBuilder.readDocs(spark, b.dir).collect().map(d => (base + d.doc_id) -> d.url)
      }.toMap
      assert(picked.map(_.bucket) == Seq("202102", "202103"))
      s.topK(Seq("w0", "w1"), "or", 10,
        docFilter = col("warc_ts") >= lit(feb1) && col("warc_ts") < lit(apr1))
        .collect().map(r => (urls(r.getLong(0)), math.round(r.getDouble(1) * 1e9)))
        .sortBy(x => (-x._2, x._1)).toSeq
    }
    assert(results(incRoot) == results(oneRoot), "incremental family diverged from one-shot")
  }

  test("time-bucket labels are session-timezone-independent (UTC pinned)") {
    import graft.index.TimeBuckets
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val root = Files.createTempDirectory("tb-tz").toString
      // 2021-02-01 00:30 UTC = 2021-01-31 19:30 in New York — a session-tz
      // bucketing would file it under 202101 and pruning would drop it
      val ts = new java.sql.Timestamp(1612139400000L)
      val pages = spark.range(0, 20, 1, 2).map { i =>
        val text = PagesGen.textFor(i)
        val url = f"doc://$i%08d"
        Page(url, ts, HtmlText.wrap(url, text), text, "en")
      }
      val built = TimeBuckets.build(spark, pages, root,
        BuildConfig(nPartitions = 2, nGroups = 1, nSlices = 2, blockSize = 32))
      assert(built.map(_.bucket) == Seq("202102"), s"bucket drifted with session tz: $built")
      val feb1 = new java.sql.Timestamp(1612137600000L) // 2021-02-01 00:00 UTC
      val mar1 = new java.sql.Timestamp(1614556800000L)
      assert(TimeBuckets.selectBuckets(root, feb1, mar1).map(_.bucket) == Seq("202102"))
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
  }

  test("streaming stateful dedup: duplicates dropped across micro-batches and restarts") {
    val root = Files.createTempDirectory("stream-dedup").toString
    val inDir = s"$root/in"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    def run(): Long = {
      val q = StreamingIngest.dedupStream(spark, inDir)
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).count()
    }
    // batch 1: docs 0..99 (distinct texts per generator, minus its own dups)
    pagesWithPrefix("d1", 0, 100).coalesce(1).write.mode("append").parquet(inDir)
    val n1 = run()
    val distinct1 = (0L until 100L).map(PagesGen.textFor).distinct.size
    assert(n1 == distinct1, s"first batch: $n1 != $distinct1")
    // batch 2 (NEW files, restarted query): same texts again + 50 new docs
    pagesWithPrefix("d2", 0, 100).coalesce(1).write.mode("append").parquet(inDir)
    pagesWithPrefix("d3", 100, 150).coalesce(1).write.mode("append").parquet(inDir)
    val n2 = run()
    val distinctAll = (0L until 150L).map(PagesGen.textFor).distinct.size
    assert(n2 == distinctAll, s"after restart: $n2 != $distinctAll (state must survive the restart)")
  }

  test("streaming percolation: alerts on the ingest stream ≡ batch percolate") {
    import graft.operators.Percolate
    import graft.operators.Percolate.Query
    val inDir = Files.createTempDirectory("stream-perc").toString + "/in"
    pagesWithPrefix("p", 0, 200).coalesce(2).write.parquet(inDir)
    val alerts = Seq(
      Query(1L, Seq("w1", "w2"), "and", 1),
      Query(2L, Seq("w3", "w4", "w5"), "or", 2),
      Query(3L, Seq("rareterm7"), "or", 1))
    val q = StreamingIngest.percolateStream(spark, inDir, alerts)
      .writeStream
      .format("memory")
      .queryName("alerts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("alerts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Percolate.percolate(
      spark.read.parquet(inDir).select(xxhash64($"url").as("doc_id"), $"text"),
      "doc_id", "text", alerts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, "stream alerts ≡ batch percolate")
    assert(streamed.nonEmpty, "fixture fires at least one alert")
  }

  test("streaming windowed term counts with watermark (memory sink)") {
    val inDir = Files.createTempDirectory("stream-agg").toString + "/in"
    pagesWithPrefix("t", 0, 100).coalesce(1).write.parquet(inDir)
    val q = StreamingIngest.termCountsByDay(spark, inDir)
      .writeStream
      .format("memory")
      .queryName("term_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val res = spark.table("term_counts")
    val total = res.agg(sum($"n")).head().getLong(0)
    val expected = (0L until 100L).map(i => graft.functions.Analyzer.tokenize(PagesGen.textFor(i)).length.toLong).sum
    assert(total == expected)
  }
}
