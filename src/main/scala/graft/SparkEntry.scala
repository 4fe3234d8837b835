package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Analyzer, Codec, DenseId}
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.query.Search
import graft.sources.HtmlText

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB-runnable `oracleSql` for every
  * SQL-expressible one. See SURVEY.md for reference file:line mappings.
  */
object SparkEntry {

  // ---------------------------------------------------------------------
  // Index cache: the fulltext queries run over a real on-disk index built
  // from the sfDir's `documents` table (doc_id zero-padded into the url so
  // the engine's url-sort-rank docIDs coincide with the table's doc_id).
  // ---------------------------------------------------------------------
  private val indexDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  def documentsAsPages(
      spark: SparkSession, sfDir: String, textOf: String => String = identity
  ) = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)]
      .map { case (id, text, lang, source) =>
        // `source` rides the url as a query-string suffix AFTER the fixed-
        // width id, so url sort order (⇒ docIDs) is untouched; the gate's
        // attr schema re-derives it as a declared keyword doc value —
        // the web-corpus analog of the reference's Server/Computer/User
        // keyword fields (url-derived attrs are the canonical case)
        val url = f"doc://$id%012d?src=$source"
        val t = textOf(text)
        Page(url, new Timestamp(1609459200000L + id * 60000L), HtmlText.wrap(url, t), t, lang)
      }
  }

  private def idOfUrl(url: String): Long = url.slice(6, 18).toLong

  private val GateConfig = BuildConfig(
    nPartitions = 16, nGroups = 2, nSlices = 4, blockSize = 128,
    // declared doc-value schema = defaults (lang kw, warc_ts/doc_len num)
    // + the corpus's `source` keyword — filtering on it must run the
    // zero-exchange sidecar path like any ES keyword field
    attrs = graft.index.AttrSchema.Default ++ Seq(
      graft.index.AttrSpec("source", graft.index.AttrSchema.Kw,
        "regexp_extract(url, 'src=(.+)$', 1)"),
      // small url-derived numeric (1..7) — the weighted_avg gate's weight
      // field (≙ ES "votes" in the canonical weighted-grade example);
      // DuckDB mirrors it as 1 + doc_id % 7
      graft.index.AttrSpec("weight", graft.index.AttrSchema.Num,
        "1 + CAST(substring(url, 7, 12) AS BIGINT) % 7"))
  )

  /** A persisted index cache is reusable only when the checkpoint says
    * "done" AND the stamped format version matches the code's AND the
    * stamped attr schema matches [[GateConfig]]'s — a cache from an older
    * format OR an older attr declaration would crash readers on missing
    * columns/fields (or silently mis-serve); wipe and rebuild instead.
    */
  private def ensureIndex(dir: String)(build: => Unit): String = {
    val stale = IndexBuilder.readFormatVersion(dir) != IndexBuilder.FormatVersion ||
      (graft.sources.Fsx.exists(s"$dir/meta.json") &&
        IndexBuilder.readMeta(dir).attrs != GateConfig.attrs)
    if (stale) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    if (stale || !IndexBuilder.completedUnits(dir).contains("done")) build
    dir
  }

  def indexFor(spark: SparkSession, sfDir: String): String =
    indexDirs.getOrElseUpdate(sfDir, {
      val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      ensureIndex(s"/tmp/graft-index/$name") {
        IndexBuilder.build(spark, documentsAsPages(spark, sfDir), s"/tmp/graft-index/$name", GateConfig)
      }
    })

  /** Two half-corpus segments (doc_id < / ≥ half) — the multi-segment
    * search gate: global ids over the segment family reconstruct doc_id,
    * so the ordinary corpus-wide BM25 SQL oracle applies unchanged.
    */
  def splitIndexesFor(spark: SparkSession, sfDir: String): (String, String) = {
    import spark.implicits._
    val half = spark.read.parquet(s"$sfDir/documents.parquet").count() / 2
    def buildHalf(tag: String, pred: Long => Boolean): String =
      indexDirs.getOrElseUpdate(s"$sfDir#$tag", {
        val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
        ensureIndex(s"/tmp/graft-index/$name-$tag") {
          IndexBuilder.build(
            spark, documentsAsPages(spark, sfDir).filter(p => pred(idOfUrl(p.url))),
            s"/tmp/graft-index/$name-$tag", GateConfig
          )
        }
      })
    (buildHalf("segA", _ < half), buildHalf("segB", _ >= half))
  }

  /** Second analyzed field over the same docs ("title" = first 5 tokens —
    * ≙ the reference's comment/data/dataPresentation field family): its
    * own index sharing the docID space (urls identical ⇒ identical ids).
    */
  def titleIndexFor(spark: SparkSession, sfDir: String): String =
    indexDirs.getOrElseUpdate(s"$sfDir#title", {
      val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      ensureIndex(s"/tmp/graft-index/$name-title") {
        IndexBuilder.build(
          spark,
          documentsAsPages(spark, sfDir, t => t.split(" ").take(5).mkString(" ")),
          s"/tmp/graft-index/$name-title", GateConfig
        )
      }
    })

  /** Title-field halves sharing the body halves' doc split — the
    * fielded × multi-segment gate fixture.
    */
  def titleSplitIndexesFor(spark: SparkSession, sfDir: String): (String, String) = {
    import spark.implicits._
    val half = spark.read.parquet(s"$sfDir/documents.parquet").count() / 2
    def buildHalf(tag: String, pred: Long => Boolean): String =
      indexDirs.getOrElseUpdate(s"$sfDir#$tag", {
        val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
        ensureIndex(s"/tmp/graft-index/$name-$tag") {
          IndexBuilder.build(
            spark,
            documentsAsPages(spark, sfDir, t => t.split(" ").take(5).mkString(" "))
              .filter(p => pred(idOfUrl(p.url))),
            s"/tmp/graft-index/$name-$tag", GateConfig
          )
        }
      })
    (buildHalf("titleSegA", _ < half), buildHalf("titleSegB", _ >= half))
  }

  /** 3-segment family over doc-id thirds, then tiered-compacted — the
    * compaction gate fixture. Global ids reconstruct doc_id (ordered
    * adjacent segments), so the corpus-wide BM25 oracle applies.
    */
  def compactedFamilyFor(spark: SparkSession, sfDir: String): String =
    indexDirs.getOrElseUpdate(s"$sfDir#family", {
      import graft.index.SegmentFamily
      val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val root = s"/tmp/graft-index/$name-family"
      val live = scala.util.Try(SegmentFamily.read(root)).getOrElse(Nil) // a pre-log cache throws
      if (live.isEmpty || live.exists(s => IndexBuilder.readFormatVersion(s.dir) != IndexBuilder.FormatVersion)) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
        val cuts = Seq(0L, n / 3, 2 * n / 3, n)
        val segs = (0 until 3).map { i =>
          val dir = s"$root/segment-$i"
          IndexBuilder.build(
            spark,
            documentsAsPages(spark, sfDir)
              .filter(p => { val id = idOfUrl(p.url); id >= cuts(i) && id < cuts(i + 1) }),
            dir, GateConfig
          )
          SegmentFamily.Seg(dir, IndexBuilder.readStats(spark, dir).n_docs)
        }
        SegmentFamily.write(root, segs)
        SegmentFamily.maybeCompact(spark, root, mergeFactor = 3)
      }
      root
    })

  /** Upsert gate fixture: a 2-segment family over the corpus halves,
    * then every 10th doc re-indexed via [[graft.index.SegmentFamily
    * .upsert]] with "updated "-prefixed text. Global ids follow manifest
    * order [halfA, halfB, up-1], so the new version of doc d has id
    * n + d/10 — SQL-derivable for the oracle; stats keep counting the
    * tombstoned old versions until purge (Lucene semantics, mirrored by
    * the oracle's all-versions stats).
    */
  def upsertFamilyFor(spark: SparkSession, sfDir: String): String =
    indexDirs.getOrElseUpdate(s"$sfDir#upfam", {
      import graft.index.{SegmentFamily, Tombstones}
      val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val root = s"/tmp/graft-index/$name-upfam"
      val live = scala.util.Try(SegmentFamily.read(root)).getOrElse(Nil) // as in compactedFamilyFor
      val ok = live.size == 3 &&
        live.forall(s => IndexBuilder.readFormatVersion(s.dir) == IndexBuilder.FormatVersion) &&
        live.take(2).forall(s => Tombstones.count(s.dir) > 0)
      if (!ok) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val half = spark.read.parquet(s"$sfDir/documents.parquet").count() / 2
        def idOf(p: Page): Long = idOfUrl(p.url)
        IndexBuilder.build(spark,
          documentsAsPages(spark, sfDir).filter(p => idOf(p) < half), s"$root/half-a", GateConfig)
        IndexBuilder.build(spark,
          documentsAsPages(spark, sfDir).filter(p => idOf(p) >= half), s"$root/half-b", GateConfig)
        SegmentFamily.append(spark, root, s"$root/half-a")
        SegmentFamily.append(spark, root, s"$root/half-b")
        SegmentFamily.upsert(spark, root,
          documentsAsPages(spark, sfDir, t => "updated " + t).filter(p => idOf(p) % 10 == 0),
          "up-1", GateConfig)
      }
      root
    })

  /** Copy of the gate index carrying tombstones (lang='de' deleted) —
    * the delete/purge gate fixture; a separate physical index because
    * tombstones mutate index state and every other gate query expects
    * the pristine one.
    */
  def deletedIndexFor(spark: SparkSession, sfDir: String): String =
    indexDirs.getOrElseUpdate(s"$sfDir#del", {
      import spark.implicits._
      val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val dir = ensureIndex(s"/tmp/graft-index/$name-del") {
        IndexBuilder.build(spark, documentsAsPages(spark, sfDir), s"/tmp/graft-index/$name-del", GateConfig)
      }
      if (graft.index.Tombstones.count(dir) == 0L)
        graft.index.Tombstones.delete(spark, dir, $"lang" === "de")
      dir
    })

  /** Purge of [[deletedIndexFor]] — dense renumbered ids, recomputed
    * stats, no tombstones.
    */
  def purgedIndexFor(spark: SparkSession, sfDir: String): String =
    indexDirs.getOrElseUpdate(s"$sfDir#purged", {
      val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      ensureIndex(s"/tmp/graft-index/$name-purged") {
        graft.index.Tombstones.purge(
          spark, deletedIndexFor(spark, sfDir), s"/tmp/graft-index/$name-purged")
      }
    })

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def customer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
  private def orders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")

  /** Flagship: build the index on sf0.001 and run a BM25 search. */
  def entry(spark: SparkSession): DataFrame = {
    val idx = indexFor(spark, "/root/testdata/sf0.001")
    Search.topK(spark, idx, Seq("spark", "table"), "or", 10)
  }

  /** BM25 queries used by the correctness gate (hot + medium terms). */
  private val QueryOr = Seq("spark", "merge", "window")
  private val QueryAnd = Seq("spark", "merge")
  private val QueryPhrase = Seq("spark", "merge")

  def queries: Map[String, (SparkSession, String) => DataFrame] = OpsQueries.queries ++ Map(
    // ---- fulltext core (north rule; SURVEY.md §2.1 S8→internalized) ----
    "q_doc_stats" -> { (s, dir) =>
      import s.implicits._
      IndexBuilder.readDocs(s, indexFor(s, dir))
        .toDF()
        .select($"doc_id", $"doc_len".cast("long").as("doc_len"))
    },
    "q_corpus_stats" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"${indexFor(s, dir)}/stats")
        .select($"n_docs", round($"avg_dl" * 1000000).cast("long").as("avg_dl_e6"), $"total_tokens")
    },
    "q_term_stats" -> { (s, dir) =>
      import s.implicits._
      IndexBuilder.readTerms(s, indexFor(s, dir))
        .toDF()
        .where($"doc_freq" >= 25)
        .select($"term", $"doc_freq", $"total_tf")
    },
    // decode every posting block back to (term → postings/tf sums): proves
    // the delta+varbyte codec round-trips inside the correctness gate
    "q_posting_decode" -> { (s, dir) =>
      import s.implicits._
      val idx = indexFor(s, dir)
      IndexBuilder.readPostings(s, idx)
        .select($"term", $"count", $"tfs")
        .as[(String, Int, Array[Byte])]
        .map { case (term, n, tfs) =>
          (term, n.toLong, Codec.decodeIntsAuto(tfs, n).map(_.toLong).sum)
        }
        .toDF("term", "doc_freq", "total_tf")
        .groupBy($"term")
        .agg(sum($"doc_freq").as("doc_freq"), sum($"total_tf").as("total_tf"))
    },
    "q_bm25_topk_or" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    "q_bm25_topk_and" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryAnd, "and", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // filtered top-k: BM25 ranking gated by a keyword predicate — THE
    // event-log query shape the reference provisions (keyword fields next
    // to text fields, ElasticSearchStorage.cs:208-233). Scores are
    // corpus-global; the filter only gates candidates (ES filter context).
    // Typed predicate → the slice-sidecar path: the WAND task evaluates it
    // node-locally from doc values; NO doc-id exchange at any selectivity.
    "q_bm25_filtered_kw" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10,
        attrFilter = graft.index.AttrPred.lang("es"))
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // same filter shape through the AD-HOC Column path (per-slice
    // allow-lists co-shuffled with blocks) — the escape hatch for
    // predicates the sidecar doesn't carry; both paths stay driver-gated
    "q_bm25_filtered_adhoc" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10, docFilter = $"lang" === "fr")
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // SECOND declared keyword field (`source` — ≙ the reference's
    // Server/Computer/User keyword fields): the schema-driven sidecar
    // serves it on the same zero-exchange path as lang (r3 verdict task 1;
    // any non-declared field would have fallen back to the allow-list
    // shuffle). PlanSpec asserts plan identity with the unfiltered search.
    "q_bm25_filtered_src" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10,
        attrFilter = graft.index.AttrPred.KeyIn("source", Set("src3", "src7", "src11")))
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // declared NUMERIC range field (doc_len — ≙ ES numeric range filter
    // on a provisioned field like Severity/duration): same sidecar path,
    // zigzag-delta numeric doc values
    "q_bm25_filtered_num" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10,
        attrFilter = graft.index.AttrPred.NumRange("doc_len", 40, 90))
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES aggregation phase (Kibana's view of an event log): counts over
    // the query's FULL match set, never scored/ranked — per-slice
    // enumeration + node-local doc-values (sidecar) reads; only per-bucket
    // partial counts shuffle
    "q_facet_hist" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.dateHistogram(s, indexFor(s, dir), QueryOr, "or", "day")
        .select($"bucket", $"n_docs")
    },
    "q_facet_lang" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.termsAgg(s, indexFor(s, dir), QueryAnd, "and")
        .select($"lang", $"n_docs")
    },
    // terms agg over a CUSTOM declared keyword field (source) — the
    // schema-driven doc-values read generalizes the aggregation phase
    // beyond lang exactly as ES aggregates any keyword field
    "q_facet_src" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.termsAgg(s, indexFor(s, dir), QueryAnd, "and", kwField = "source")
        .select($"source", $"n_docs")
    },
    // ES rescore + function_score exp decay on warc_ts (multiply mode,
    // explicit origin — deterministic): top-50 BM25 window re-ranked by
    // bm25 · recency; the decisive read when relevance and freshness both
    // matter. The BM25 factor is e4-quantized before the multiply so the
    // oracle reproduces combined scores exactly.
    "q_bm25_rescore" -> { (s, dir) =>
      import s.implicits._
      graft.query.Rescore.recencyTopK(s, indexFor(s, dir), QueryOr, "or", 10,
        window = 50, originMs = 1609459200000L + 500L * 60000L, halfLifeMs = 3600000L)
        .select($"doc_id", $"combined_e4")
    },
    // sort-by-field (THE event-log read: filter + sort by timestamp desc +
    // page — ES sort API on a doc-values field): top-k matching docs
    // ordered by the declared warc_ts numeric attr, no scoring anywhere
    "q_sort_ts" -> { (s, dir) =>
      import s.implicits._
      graft.query.SortBy.topKByAttr(s, indexFor(s, dir), QueryOr, "or", "warc_ts", 10)
        .select($"doc_id", $"sort_value".as("ts_ms"))
    },
    // ES histogram agg on a declared numeric field (doc_len, width 20)
    "q_facet_len" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.numericHistogram(s, indexFor(s, dir), QueryOr, "or", "doc_len", 20L)
        .select($"bucket_lo", $"n_docs")
    },
    // ES _count: total matching docs, no scoring/ranking
    "q_match_count" -> { (s, dir) =>
      import s.implicits._
      Seq(graft.query.Facets.matchCount(s, indexFor(s, dir), QueryOr, "or")).toDF("n_docs")
    },
    // ES field collapsing: top-10 hits, at most ONE per source ("one
    // event per server") — exact: every group's best is found even when
    // it ranks below k in the flat ranking
    "q_bm25_collapse" -> { (s, dir) =>
      import s.implicits._
      Search.collapseTopK(s, indexFor(s, dir), QueryOr, "or", "source", 10)
        .select($"source", $"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // composite terms × date_histogram (Kibana split-series: events per
    // source per day) — one match walk, composite doc-value keys
    "q_facet_src_day" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.termsDateHistogram(s, indexFor(s, dir), QueryAnd, "and",
        kwField = "source", interval = "day")
        .select($"source", $"bucket", $"n_docs")
    },
    // the Kibana dashboard shape end-to-end: a query_string drives an
    // aggregation — the search-bar text compiles to the engine's flat
    // bool (terms/mode/must_not/attr filter) and ANY facet runs behind it
    "q_facet_qs" -> { (s, dir) =>
      import s.implicits._
      val idx = indexFor(s, dir)
      val attrs = graft.index.IndexBuilder.readMeta(idx).attrs.map(a => a.name -> a.kind).toMap
      val f = graft.query.QueryString
        .compileFlat("lang:en AND (spark OR merge) -batch", attrs)
        .getOrElse(sys.error("expected a flat query"))
      graft.query.Facets.dateHistogram(s, idx, f.terms, f.mode, "hour",
        f.attrFilter, f.mustNot, f.minShouldMatch)
        .select($"bucket", $"n_docs")
    },
    // ES significant_terms (JLH) on the custom keyword: which sources are
    // OVERREPRESENTED among docs matching the query vs the whole corpus —
    // the diagnostic agg of the event-log read path
    "q_significant_src" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.significantTerms(s, indexFor(s, dir), QueryAnd, "and",
        kwField = "source", size = 10)
        .select($"source", $"fg_count", $"bg_count", $"score_e4")
    },
    // ES stats agg (metric layer of the Kibana read path): min/max/sum/avg
    // of a declared numeric doc value over the query's FULL match set —
    // one (n, sum, min, max) partial per slice, exchange nSlices×1 rows
    "q_facet_stats" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.statsAgg(s, indexFor(s, dir), QueryOr, "or", "doc_len")
        .select($"n_docs", $"min_v", $"max_v", $"sum_v",
          round($"avg_v" * 10000).cast("long").as("avg_e4"))
    },
    // ES significant_text: overrepresented TERMS from the matching docs'
    // text vs the corpus (JLH) — fg tokenizes only the match set (id
    // semi-join, column-pruned), bg doc freqs come free from the term
    // dictionary
    "q_significant_text" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.significantText(s, indexFor(s, dir), QueryAnd, "and", size = 10)
        .select($"term", $"fg_count", $"bg_count", $"score_e4")
    },
    // ES sampler + terms sub-agg: terms agg over ONLY the top-50 BM25
    // docs (global top-k sample — the portable deviation from ES's
    // per-shard sample; per-slice sampling would tie results to layout)
    "q_facet_sampler" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.samplerTermsAgg(s, indexFor(s, dir), QueryOr, "or",
        shardSize = 50, kwField = "source")
        .select($"source", $"n_docs")
    },
    // ES rare_terms: long-tail buckets (doc count ≤ max_doc_count over
    // the match set), count-ASC — the complement of the terms agg's
    // top-N; same one-walk partials, the ≤ cut runs post-combine
    "q_facet_rare" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.rareTermsAgg(s, indexFor(s, dir), QueryAnd, "and",
        maxDocCount = 14L, kwField = "source")
        .select($"source", $"n_docs")
    },
    // ES weighted_avg: Σ(v·w)/Σw over the match set, value=doc_len
    // weighted by the declared url-derived `weight` field
    "q_facet_wavg" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.weightedAvgAgg(s, indexFor(s, dir), QueryOr, "or",
        "doc_len", "weight")
        .select($"n_docs", $"sum_vw", $"sum_w",
          round($"wavg_v" * 10000).cast("long").as("wavg_e4"))
    },
    // ES median_absolute_deviation, EXACT (nearest-rank medians over the
    // distinct-value histogram; ES itself t-digest-approximates)
    "q_facet_mad" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.medianAbsoluteDeviationAgg(s, indexFor(s, dir), QueryOr, "or", "doc_len")
        .select($"n_docs", $"median_v", $"mad_v")
    },
    // ES date_range agg with date-math boundaries ("now-6h/h" etc.)
    // anchored at a DETERMINISTIC job-pinned now (2021-01-01T08:00Z)
    "q_facet_date_range" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.dateRangeAgg(s, indexFor(s, dir), QueryOr, "or",
        boundaries = Seq("2021-01-01T01:30:00Z", "now-6h/h", "now-4h"),
        nowMs = 1609459200000L + 8L * 3600000L)
        .select($"bucket_idx", coalesce($"from_ms", lit(-1L)).as("from_ms"),
          coalesce($"to_ms", lit(-1L)).as("to_ms"), $"n_docs")
    },
    // ES top_metrics: doc_len/weight values at the 10 newest matching
    // docs (sort=warc_ts desc) — metrics ride the k-heap entries
    "q_top_metrics" -> { (s, dir) =>
      import s.implicits._
      graft.query.SortBy.topKByAttr(s, indexFor(s, dir), QueryOr, "or", "warc_ts", 10,
        metricFields = Seq("doc_len", "weight"))
        .select($"doc_id", $"sort_value".as("ts_ms"), $"doc_len", $"weight")
    },
    // ES bucket_selector + bucket_sort pipeline aggs over a terms+stats
    // parent: HAVING avg ≥ 8, order by avg desc, page [1, 1+5)
    "q_facet_bucket_sel" -> { (s, dir) =>
      import s.implicits._
      val buckets = graft.query.Facets.termsStatsAgg(s, indexFor(s, dir), QueryOr, "or",
        "source", "doc_len", orderMetric = "avg", size = 1000)
      graft.query.Facets.bucketSort(
        graft.query.Facets.bucketSelector(buckets, $"n_docs" >= 15),
        Seq(desc("avg_v"), asc("source")), from = 1, size = 5)
        .select($"source", $"n_docs",
          round($"avg_v" * 10000).cast("long").as("avg_e4"))
    },
    // ES matrix_stats on the (doc_len, weight) field pair: one walk, six
    // exact integer sums → population covariance + Pearson correlation
    "q_facet_matrix" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.matrixStatsAgg(s, indexFor(s, dir), QueryOr, "or",
        "doc_len", "weight")
        .select($"n_docs", $"sum_a", $"sum_b", $"sum_ab",
          round($"covar" * 10000).cast("long").as("covar_e4"),
          round($"corr" * 10000).cast("long").as("corr_e4"))
    },
    // ES extended_stats: exact integer Σv/Σv² partials → population
    // variance and std deviation (ES definitions), one row
    "q_facet_extstats" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.extendedStatsAgg(s, indexFor(s, dir), QueryOr, "or", "doc_len")
        .select($"n_docs", $"min_v", $"max_v", $"sum_v", $"sum_sq",
          round($"variance_v" * 10000).cast("long").as("var_e4"),
          round($"std_dev_v" * 10000).cast("long").as("std_e4"))
    },
    // ES auto_date_histogram: the interval ladder picks 'hour' for this
    // corpus span at the default target; selection logic replayed in SQL
    "q_facet_autohist" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.autoDateHistogram(s, indexFor(s, dir), QueryOr, "or")
        .select($"interval", $"bucket", $"n_docs")
    },
    // ES percentile_ranks (inverse percentiles), exact: % of match-set
    // doc_len values ≤ each probe
    "q_facet_pct_ranks" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.percentileRanksAgg(s, indexFor(s, dir), QueryOr, "or",
        "doc_len", values = Seq(30L, 60L, 90L, 120L))
        .select($"value", $"pct_e4")
    },
    // ES percentiles agg, exact nearest-rank over the match set's doc_len
    // values (per-slice value-histogram partials; cumulative walk over
    // distinct values)
    "q_facet_pct" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.percentilesAgg(s, indexFor(s, dir), QueryOr, "or", "doc_len",
        percentiles = Seq(25.0, 50.0, 75.0, 95.0, 99.0))
        .select(round($"p").cast("long").as("p"), $"value")
    },
    // ES percentiles for CONTINUOUS fields (the t-digest role): per-slice
    // partials are HdrHistogram-style log buckets — exchange bounded by
    // ~(64−s)·2^s buckets regardless of the field's value range, and
    // order-independent exact merging lets DuckDB recompute the sketch
    // bit-for-bit (s=3 so the fixture's doc_len range exercises the
    // logarithmic branch, not only the exact unit buckets)
    "q_facet_pct_log" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.percentilesApproxAgg(s, indexFor(s, dir), QueryOr, "or",
        "doc_len", percentiles = Seq(25.0, 50.0, 75.0, 95.0, 99.0), logS = 3)
        .select(round($"p").cast("long").as("p"), $"value")
    },
    // ES range agg: explicit half-open buckets over doc_len (the
    // "small/medium/large" slicing histogram can't express); bucket
    // assignment runs over the per-slice distinct-value partials
    "q_facet_range" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.rangeAgg(s, indexFor(s, dir), QueryOr, "or", "doc_len",
        edges = Seq(40L, 70L, 100L))
        .select($"bucket_idx", $"n_docs")
    },
    // ES cardinality agg: distinct sources among matching docs via
    // HyperLogLog++ slice sketches — the fixture cardinality sits in the
    // sketch's exact sparse mode, so DuckDB's COUNT(DISTINCT) gates it
    // hash-exact (dense-mode error bounds are unit-tested)
    "q_facet_cardinality" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.cardinalityAgg(s, indexFor(s, dir), QueryOr, "or",
        kwField = "source")
        .select($"n_distinct", $"is_exact")
    },
    // ES term suggester ("did you mean"): dictionary corrections within
    // 1 edit of the misspelling, ranked by df — suggest_mode: popular
    "q_suggest" -> { (s, dir) =>
      import s.implicits._
      Search.suggest(s, indexFor(s, dir), "merg", size = 5, maxEdits = 1)
        .select($"suggestion", $"doc_freq")
    },
    // ES phrase suggester ("did you mean"): per-position dictionary
    // candidates + bigram LM with stupid backoff over the index's own
    // stats; bigram counts are positional phraseCount walks
    "q_phrase_suggest" -> { (s, dir) =>
      import s.implicits._
      Search.phraseSuggest(s, indexFor(s, dir), Seq("sparc", "merge"), size = 3)
        .select($"suggestion", $"score_e6")
    },
    // ES more_like_this: tf·idf term selection from doc 42 (top 5 with
    // min_term_freq=2), then bool-should BM25, source doc excluded
    "q_mlt" -> { (s, dir) =>
      import s.implicits._
      Search.moreLikeThis(s, indexFor(s, dir), docId = 42L, k = 10,
        maxQueryTerms = 5, minTermFreq = 2)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES terms + top_hits sub-agg: best 2 docs of each of the top-3
    // sources by match count
    "q_top_hits" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.topHitsAgg(s, indexFor(s, dir), QueryOr, "or",
        kwField = "source", size = 3, hitsPerBucket = 2)
        .select($"source", $"n_docs", $"rank", $"doc_id",
          round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES cumulative_sum pipeline agg over the date_histogram
    "q_facet_cumsum" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.cumulativeSum(s, indexFor(s, dir), QueryOr, "or", "day")
        .select($"bucket", $"n_docs", $"cum_docs")
    },
    // ES derivative pipeline agg (first bucket has none — ES emits no
    // value; dropped here for a null-free gate frame)
    "q_facet_deriv" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.derivative(s, indexFor(s, dir), QueryOr, "or", "day")
        .where($"deriv".isNotNull)
        .select($"bucket", $"n_docs", $"deriv")
    },
    // ES multi_terms: composite (source × lang) buckets over the match
    // set — one walk, two keyword doc values per matched doc, exchange
    // bounded by |sources|·|langs|
    "q_facet_multi_terms" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.multiTermsAgg(s, indexFor(s, dir), QueryAnd, "and",
        kwField = "source", kwField2 = "lang")
        .select($"source", $"lang", $"n_docs")
    },
    // ES terms + metric sub-agg ordered by the sub-metric ("top sources
    // by avg doc_len"): per-(slice, value) (n,sum,min,max) partials, one
    // walk, order by avg desc
    "q_facet_terms_stats" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.termsStatsAgg(s, indexFor(s, dir), QueryOr, "or",
        kwField = "source", numField = "doc_len", orderMetric = "avg", size = 10)
        .select($"source", $"n_docs", $"min_v", $"max_v", $"sum_v",
          round($"avg_v" * 10000).cast("long").as("avg_e4"))
    },
    // ES filters agg: NAMED buckets (each its own term query) counted
    // over the base match set in one walk — per-bucket monotone
    // membership cursors, docs may count in several buckets
    "q_facet_filters" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.filtersAgg(s, indexFor(s, dir), QueryOr, "or",
        buckets = Seq(
          ("joins", Seq("join", "merge"), "or"),
          ("vector_scan", Seq("vector", "scan"), "and")))
        .select($"bucket", $"n_docs")
    },
    // ES match_phrase_prefix ("data s…" — search-as-you-type): last term
    // expands to ≤8 dictionary terms in TERM order; per-doc best
    // expansion phrase score
    "q_bm25_phrase_prefix" -> { (s, dir) =>
      import s.implicits._
      Search.phrasePrefixTopK(s, indexFor(s, dir), Seq("data", "s"), 10,
        maxExpansions = 8)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // query-time synonyms (Lucene SynonymQuery): merge/join scored as ONE
    // term — tf summed across members, idf from max member df; NOT
    // OR-expansion (which would double-count docs with both spellings)
    "q_bm25_synonym" -> { (s, dir) =>
      import s.implicits._
      Search.synonymTopK(s, indexFor(s, dir),
        groups = Seq(Seq("spark"), Seq("merge", "join")), "or", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES query_string term boosts (spark^2 merge window^0.5): boost folds
    // into the per-term idf, so WAND's block-max bounds scale exactly
    "q_bm25_boost" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10,
        boosts = Seq(2.0, 1.0, 0.5))
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES dis_max (tie_breaker 0.3): best term + 0.3 × the rest — "don't
    // reward redundancy" ranking
    "q_bm25_dismax" -> { (s, dir) =>
      import s.implicits._
      Search.disMaxTopK(s, indexFor(s, dir), QueryOr, 10, tieBreaker = 0.3)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES scroll / PIT export: the FULL match set as a distributed frame —
    // no top-k, no driver materialization (the feed-the-training-pipeline
    // read)
    "q_bm25_scan" -> { (s, dir) =>
      import s.implicits._
      Search.exportMatches(s, indexFor(s, dir), QueryAnd, "and")
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES adjacency_matrix: filters-agg buckets plus pairwise
    // intersections ("joins&vector_scan") in the same walk
    "q_facet_adjacency" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.adjacencyMatrixAgg(s, indexFor(s, dir), QueryOr, "or",
        buckets = Seq(
          ("joins", Seq("join", "merge"), "or"),
          ("vector_scan", Seq("vector", "scan"), "and")))
        .select($"bucket", $"n_docs")
    },
    // deterministic md5 train/val/test split: pure per-row assignment —
    // reproducible, growth-stable (no test→train migration between
    // dataset versions), shuffle-free
    "q_sample_split" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Sampling.split(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "s1")
        .select($"doc_id", $"split")
    },
    // stratified deterministic sampling: 20% of English, all of the rest
    // (the rebalance-the-corpus op of every multilingual training mix)
    "q_sample_strat" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Sampling.stratifiedSample(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
        rates = Map("en" -> 0.2), defaultRate = 1.0, salt = "s2")
        .groupBy($"lang").agg(count("*").as("n_docs"))
        .select($"lang", $"n_docs")
    },
    // ES date_histogram + metric sub-agg (avg doc_len per day — the
    // metric-line-over-time Kibana chart); one (n,sum,min,max) partial
    // per (slice, bucket)
    "q_facet_day_stats" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.dateHistogramStats(s, indexFor(s, dir), QueryOr, "or",
        numField = "doc_len", interval = "day")
        .select($"bucket", $"n_docs", $"min_v", $"max_v", $"sum_v",
          round($"avg_v" * 10000).cast("long").as("avg_e4"))
    },
    // ES terms + cardinality sub-agg ("unique langs per source") — exact
    // via the composite kw×kw walk; exchange = the distinct pair set
    "q_facet_terms_card" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.termsCardinalityAgg(s, indexFor(s, dir), QueryAnd, "and",
        kwField = "source", distinctField = "lang")
        .select($"source", $"n_distinct", $"n_docs")
    },
    // token-budget shard packing (LLM training sharding): contiguous
    // prefix-sum rule, deterministic in doc order, DenseId-style
    // two-pass — no global window
    "q_pack_shards" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("n_tokens",
          when($"text" === "", 0L).otherwise(size(split($"text", " ")).cast("long")))
      graft.operators.Packing.assignShards(docs, "doc_id", "n_tokens",
        budget = 2000L, numPartitions = 8)
        .select($"doc_id", $"shard")
    },
    // ES moving_fn pipeline agg: trailing 3-bucket average over the hour
    // histogram (window on the reduced bucket frame, not the match set;
    // hourly so the sf0.01 corpus actually spans >window buckets)
    "q_facet_movavg" -> { (s, dir) =>
      import s.implicits._
      graft.query.Facets.movingAvg(s, indexFor(s, dir), QueryOr, "or", "hour", window = 3)
        .select($"bucket", $"n_docs", round($"mov_avg" * 10000).cast("long").as("avg_e4"))
    },
    // ES composite agg with after-key paging (THE bounded bucket-space
    // read): page 2 = the 10 (source, day) buckets strictly after page
    // 1's last key
    "q_facet_composite_page" -> { (s, dir) =>
      import s.implicits._
      val idx = indexFor(s, dir)
      val p1 = graft.query.Facets.compositePage(s, idx, QueryAnd, "and",
        kwField = "source", interval = "day", size = 10).collect()
      val last = p1.last
      graft.query.Facets.compositePage(s, idx, QueryAnd, "and",
        kwField = "source", interval = "day", size = 10,
        afterKey = (last.getString(0), last.getString(1)))
        .select($"source", $"bucket", $"n_docs")
    },
    // train/eval n-gram decontamination (the benchmark-leak check):
    // eval docs (doc_id%10==0) whose distinct 3-grams appear in the
    // train split — distinct leaked count + the doc's n-gram total
    "q_decontaminate" -> { (s, dir) =>
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Decontaminate.ngramOverlap(
        docs.where($"doc_id" % 10 =!= 0), docs.where($"doc_id" % 10 === 0),
        "doc_id", "text", n = 3)
        .select($"doc_id", $"n_hit", $"n_ngrams")
    },
    // ES query_string (the Kibana search bar): parsed mini-language →
    // composed tree eval — keyword-filter pushdown into every leaf walk,
    // OR-group, scoring must_not as an anti join
    "q_qs_bool" -> { (s, dir) =>
      import s.implicits._
      graft.query.QueryString.topK(s, indexFor(s, dir),
        "source:src1 AND (spark OR merge) -batch", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // query_string nested groups with a leaf boost: score = sum of the
    // matching groups' term scores (Lucene bool sum; ^2 folds into idf)
    "q_qs_nested" -> { (s, dir) =>
      import s.implicits._
      graft.query.QueryString.topK(s, indexFor(s, dir),
        "(spark AND merge) OR (window AND batch^2)", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // the SAME composed query_string over a two-segment FAMILY: leaves
    // walk both segments with family-global stats, ids are global — the
    // single-index oracle applies unchanged (rank-identity to merged)
    "q_qs_family" -> { (s, dir) =>
      import s.implicits._
      val (a, b) = splitIndexesFor(s, dir)
      val ms = new graft.query.MultiSearcher(s, Seq(a, b))
      graft.query.QueryString.topKFamily(ms,
        "(spark AND merge) OR (window AND batch^2)", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // query_string pure-filter root (KQL-style): compiled to ONE sidecar
    // AttrPred — keyword equality AND inclusive numeric range, no
    // postings touched; ids ascending (all scores 0)
    "q_qs_filter" -> { (s, dir) =>
      import s.implicits._
      graft.query.QueryString.topK(s, indexFor(s, dir),
        "source:src2 AND doc_len:[40 TO 60]", 10)
        .select($"doc_id")
    },
    // hybrid retrieval (ES 8 `rrf` retriever): BM25 top-20 fused with
    // dense-cosine top-20 by reciprocal-rank fusion — rank-only, so the
    // two score scales need no calibration; ids are the shared
    // doc_id/vec_id space
    "q_hybrid_rrf" -> { (s, dir) =>
      import s.implicits._
      val lex = Search.topK(s, indexFor(s, dir), QueryOr, "or", 20)
        .select($"doc_id", $"score")
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.where($"vec_id" === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val dense = graft.operators.Ann
        .bruteForceTopK(q, e, "qid", "qvec", "vec_id", "embedding", 20)
        .select($"id".as("doc_id"), $"cosine".as("score"))
      graft.query.Hybrid.rrf(Seq(lex, dense), 10)
        .select($"doc_id", round($"score" * 1e9).cast("long").as("rrf_e9"))
    },
    // ES 8 `linear` retriever: weighted min-max-normalized fusion of the
    // same two lists (scores pre-quantized to e4 ints so the arithmetic
    // is reproducible across engines — see Hybrid.linear's caveat)
    "q_hybrid_linear" -> { (s, dir) =>
      import s.implicits._
      val lex = Search.topK(s, indexFor(s, dir), QueryOr, "or", 20)
        .select($"doc_id", round($"score" * 10000).cast("long").cast("double").as("score"))
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.where($"vec_id" === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val dense = graft.operators.Ann
        .bruteForceTopK(q, e, "qid", "qvec", "vec_id", "embedding", 20)
        .select($"id".as("doc_id"),
          round($"cosine" * 10000).cast("long").cast("double").as("score"))
      graft.query.Hybrid.linear(Seq((lex, 0.7), (dense, 0.3)), 10)
        .select($"doc_id", round($"score" * 1000000).cast("long").as("lin_e6"))
    },
    // query_string with a FIELDED scoring leaf: title:spark walks the
    // title field's own index (own df/dl/avgdl — per-field BM25), merge
    // walks the body; AND composes across fields on the shared doc space
    "q_qs_fielded" -> { (s, dir) =>
      import s.implicits._
      graft.query.QueryString.topK(s, indexFor(s, dir), "title:spark AND merge", 10,
        textFields = Map("title" -> titleIndexFor(s, dir)))
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // BATCHED retrieval: three queries in ONE job (one postings scan over
    // the term union, one shuffle, per-slice walks per query) — the
    // offline-eval / RAG-training shape; exact per-query top-k
    "q_bm25_batch" -> { (s, dir) =>
      import s.implicits._
      Search.batchTopK(s, indexFor(s, dir), Seq(
        (1L, QueryOr, "or"), (2L, QueryAnd, "and"),
        (3L, Seq("window", "batch"), "or")), 10)
        .select($"qid", $"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // bool.should minimum_should_match: candidates must match ≥2 of the 3
    // query terms; scores unchanged (still summed over matched terms)
    "q_bm25_msm" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10, minShouldMatch = 2)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES terms_set: PER-DOC minimum_should_match from the declared
    // numeric `weight` attr (1..7) — a doc matches iff it aligns ≥ its
    // own required count; WAND pruning untouched (score-bound-only)
    "q_bm25_terms_set" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10, msmField = "weight")
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES search_after deep pagination: page 2 = the 10 hits strictly
    // after page 1's last (score, doc_id) cursor — per-slice heaps stay
    // k-sized at any depth (vs from+size's depth-sized heaps)
    "q_bm25_page2" -> { (s, dir) =>
      import s.implicits._
      val idx = indexFor(s, dir)
      val last = Search.topK(s, idx, QueryOr, "or", 10)
        .orderBy(desc("score"), asc("doc_id"))
        .collect().last
      Search.topK(s, idx, QueryOr, "or", 10,
        searchAfter = (last.getDouble(1), last.getLong(0)))
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES _explain: per-(doc, term) score decomposition for docs 0-9 —
    // tf/dl/df surfaced with the exact contribution; Σ contrib per doc
    // equals its ranked score (same float pipeline)
    "q_bm25_explain" -> { (s, dir) =>
      import s.implicits._
      Search.explain(s, indexFor(s, dir), QueryOr, (0L until 10L).toSeq)
        .select($"doc_id", $"term", $"tf", $"doc_len", $"doc_freq",
          round($"contrib" * 10000).cast("long").as("contrib_e4"))
    },
    // index upsert (ES _id-keyed indexing): every 10th doc re-indexed
    // with "updated "-prefixed text — old versions tombstoned, new
    // segment appended; ranked answers must serve ONLY latest versions,
    // with stats still counting tombstoned docs (pre-purge Lucene
    // semantics, mirrored exactly by the all-versions oracle)
    "q_bm25_upsert" -> { (s, dir) =>
      import s.implicits._
      graft.index.SegmentFamily.searcher(s, upsertFamilyFor(s, dir))
        .topK(QueryOr, "or", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES fuzzy query: the misspelling 'merg' is ABSENT from the corpus —
    // matches come only through the dictionary edit-distance expansion
    // (codegen levenshtein over the terms table, df-desc cap)
    "q_bm25_fuzzy" -> { (s, dir) =>
      import s.implicits._
      Search.fuzzyTopK(s, indexFor(s, dir), "merg", 10, maxEdits = 1)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES prefix query: dictionary range expansion (pushdown StartsWith)
    // rewritten to an OR over the expansions with per-term idf — the
    // fixture prefix expands fully below the cap, so the exhaustive LIKE
    // oracle is exact
    "q_bm25_prefix" -> { (s, dir) =>
      import s.implicits._
      Search.prefixTopK(s, indexFor(s, dir), "s", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES wildcard query (term-level family completed): s?a* expands via
    // the anchored-regex dictionary scan (literal-prefix pushdown cut) to
    // {scan, small, spark}; exhaustive LIKE oracle mirrors s_a%
    "q_bm25_wildcard" -> { (s, dir) =>
      import s.implicits._
      Search.wildcardTopK(s, indexFor(s, dir), "s?a*", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // bool.must_not: docs containing the excluded term can't match; scores
    // stay corpus-global (exclusion is non-scoring — ES bool semantics).
    // The excluded term's blocks ride the same exchange; each slice task
    // walks them as a monotone exclusion cursor.
    "q_bm25_must_not" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, indexFor(s, dir), QueryOr, "or", 10, mustNot = Seq("batch"))
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // Lucene-semantics deletes: tombstoned docs (lang='de') stop matching
    // immediately, but corpus stats are UNCHANGED until purge — so the
    // oracle is the standard filter-context shape (candidates gated,
    // stats global)
    "q_bm25_deleted" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, deletedIndexFor(s, dir), QueryOr, "or", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // after purge: survivors renumber dense (order preserved) and stats/df
    // recompute over them — the oracle rebuilds that world in SQL
    "q_bm25_purged" -> { (s, dir) =>
      import s.implicits._
      Search.topK(s, purgedIndexFor(s, dir), QueryOr, "or", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // multi-segment search: the corpus split into two independent index
    // segments, queried as ONE logical index (global N/avgdl/df, base-
    // offset ids) with NO physical merge — ≙ ES serving one query across
    // its {prefix}-* indices. Global ids reconstruct doc_id exactly, so
    // the ordinary corpus-wide BM25 oracle checks it.
    "q_bm25_multiseg" -> { (s, dir) =>
      import s.implicits._
      val (a, b) = splitIndexesFor(s, dir)
      new graft.query.MultiSearcher(s, Seq(a, b)).topK(QueryOr, "or", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // fielded search: two analyzed fields (title boost 2.0, body 1.0),
    // per-field stats, most_fields combination (≙ ES multi_match over the
    // comment/data/dataPresentation field family)
    "q_bm25_fielded" -> { (s, dir) =>
      import s.implicits._
      import graft.query.FieldedSearch
      val fields = Seq(
        FieldedSearch.Field("title", titleIndexFor(s, dir), 2.0),
        FieldedSearch.Field("body", indexFor(s, dir), 1.0)
      )
      FieldedSearch.topK(s, fields, QueryOr, 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES combined_fields (Lucene CombinedFieldQuery / BM25F): ONE virtual
    // field — weighted combined tf/dl, merged (max-df) idf per term; the
    // per-doc score folds in ascending term order for a deterministic sum
    "q_bm25_combined" -> { (s, dir) =>
      import s.implicits._
      import graft.query.FieldedSearch
      val fields = Seq(
        FieldedSearch.Field("title", titleIndexFor(s, dir), 2.0),
        FieldedSearch.Field("body", indexFor(s, dir), 1.0)
      )
      FieldedSearch.combinedFieldsTopK(s, fields, QueryOr, 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // fielded term-level rewrite (ES multi_match + prefix): the prefix
    // expands against EACH field dictionary; per-(field, term) masks keep
    // a rewrite inside the field whose dictionary produced it; the
    // uncapped exhaustive LIKE oracle is exact because both vocabularies
    // expand below the cap
    "q_bm25_fielded_prefix" -> { (s, dir) =>
      import s.implicits._
      import graft.query.FieldedSearch
      val fields = Seq(
        FieldedSearch.Field("title", titleIndexFor(s, dir), 2.0),
        FieldedSearch.Field("body", indexFor(s, dir), 1.0)
      )
      FieldedSearch.prefixTopK(s, fields, "s", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // fielded wildcard (ES query_string `s?a*` over multiple fields —
    // the Kibana `server:web-*` shape): the pattern expands against EACH
    // field's dictionary with the literal-prefix pushdown cut; per-field
    // masks as in the prefix/fuzzy rewrites; exhaustive LIKE oracle is
    // exact because both vocabularies expand below the cap
    "q_bm25_fielded_wildcard" -> { (s, dir) =>
      import s.implicits._
      import graft.query.FieldedSearch
      val fields = Seq(
        FieldedSearch.Field("title", titleIndexFor(s, dir), 2.0),
        FieldedSearch.Field("body", indexFor(s, dir), 1.0)
      )
      FieldedSearch.wildcardTopK(s, fields, "s?a*", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // exact-phrase top-k (≙ ES match_phrase over an analyzed text field;
    // positions are indexed by default on text fields)
    "q_bm25_phrase" -> { (s, dir) =>
      import s.implicits._
      Search.phraseTopK(s, indexFor(s, dir), QueryPhrase, 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ES match_phrase with slop: greedy ordered-chain proximity, Lucene
    // 1/(1+displacement) weights in e6 fixed point (order-free sums)
    "q_bm25_slop" -> { (s, dir) =>
      import s.implicits._
      Search.phraseTopK(s, indexFor(s, dir), QueryPhrase, 10, slop = 2)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // 3-term chain at slop 4 — exercises chained greedy binding depth
    "q_bm25_slop3" -> { (s, dir) =>
      import s.implicits._
      Search.phraseTopK(s, indexFor(s, dir), Seq("spark", "merge", "window"), 10, slop = 4)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // fielded × multi-segment: each field is a 2-segment family queried as
    // one logical index (≙ ES multi_match across its {prefix}-* indices).
    // Global ids reconstruct doc_id, so the single-index fielded oracle
    // applies unchanged.
    "q_bm25_fielded_multiseg" -> { (s, dir) =>
      import s.implicits._
      import graft.query.FieldedSearch
      val (bodyA, bodyB) = splitIndexesFor(s, dir)
      val (titleA, titleB) = titleSplitIndexesFor(s, dir)
      FieldedSearch.topKMulti(
        s,
        Seq(FieldedSearch.FieldFamily("title", Seq(titleA, titleB), 2.0),
          FieldedSearch.FieldFamily("body", Seq(bodyA, bodyB), 1.0)),
        QueryOr, 10
      ).select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // tiered-compacted segment family: 3 micro-batch-style segments folded
    // by the merge policy (decode-free fastMerge), queried through the
    // family manifest — must equal the corpus-wide single-index answer
    "q_bm25_compacted" -> { (s, dir) =>
      import s.implicits._
      val root = compactedFamilyFor(s, dir)
      graft.index.SegmentFamily.searcher(s, root).topK(QueryOr, "or", 10)
        .select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // fielded exact phrase (≙ ES most_fields over match_phrase clauses)
    "q_bm25_fielded_phrase" -> { (s, dir) =>
      import s.implicits._
      import graft.query.FieldedSearch
      FieldedSearch.phraseTopK(
        s,
        Seq(FieldedSearch.Field("title", titleIndexFor(s, dir), 2.0),
          FieldedSearch.Field("body", indexFor(s, dir), 1.0)),
        QueryPhrase, 10
      ).select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // filtered top-k: date-range predicate (≙ ES date fields + dateTime
    // range query), AND-mode conjunctive retrieval under the filter —
    // typed range → sidecar path (node-local doc values, no id exchange)
    "q_bm25_filtered_date" -> { (s, dir) =>
      import s.implicits._
      Search.topK(
        s, indexFor(s, dir), QueryAnd, "and", 10,
        // [2021-01-01 02:00, 05:00) UTC as epoch millis — explicit instants
        // (Timestamp.valueOf would parse in the JVM default zone)
        attrFilter = graft.index.AttrPred.TsRange(1609466400000L, 1609477200000L)
      ).select($"doc_id", round($"score" * 10000).cast("long").as("score_e4"))
    },
    // ---- relational operators (SURVEY.md §2.2-2.8) ---------------------
    // J1/J2: stream–dimension broadcast LEFT lookup join, missing → ""
    // (≙ LgfReader.GetObjectValue, LgfReader.cs:102-115)
    "q_dict_join" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .join(
          broadcast(customer(s, dir)),
          $"user_id" === $"c_custkey",
          "left"
        )
        .select(
          $"event_id",
          coalesce($"c_name", lit("")).as("user_name"),
          coalesce($"c_mktsegment", lit("")).as("segment")
        )
    },
    // J3: last-write-wins upsert/dedup (≙ LgfReader.cs:64-86)
    "q_lww_dedup" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where($"rn" === 1)
        .select($"user_id", $"event_id", $"event_type")
    },
    // J4: set difference / anti join (≙ ClstWatcher.cs:81-87)
    "q_anti_join" -> { (s, dir) =>
      import s.implicits._
      customer(s, dir)
        .join(
          orders(s, dir).where($"o_totalprice" > 200000),
          $"c_custkey" === $"o_custkey", "left_anti"
        )
        .select($"c_custkey", $"c_name")
    },
    // set EXCEPT on derived sets (S6 registry diff)
    "q_set_except" -> { (s, dir) =>
      import s.implicits._
      val e = events(s, dir)
        .where($"ts" >= lit("2024-01-30 00:00:00").cast("timestamp"))
      e.where($"event_type" === "error").select($"user_id").distinct()
        .except(e.where($"event_type" === "purchase").select($"user_id").distinct())
    },
    // A1: group-by time bucket (≙ ElasticSearchStorage.cs:293-320)
    "q_time_bucket" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy(
          date_format($"ts", "yyyyMMdd").as("bucket"),
          $"event_type"
        )
        .agg(count(lit(1)).as("n"), round(sum($"value") * 10000).cast("long").as("total_value_e4"))
    },
    // A3/S9/O3: checkpoint read = top-1 by (ts, id) desc
    // (≙ ClickHouseStorage.cs:42-43)
    "q_checkpoint_top1" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .orderBy($"ts".desc, $"event_id".desc)
        .limit(1)
        // parquet ts is TIMESTAMP_NTZ; session TZ is UTC, so the cast is exact
        .select(unix_micros($"ts".cast("timestamp")).as("ts_us"), $"event_id")
    },
    // P5-P8: enum decode via literal map with identity fallback
    // (≙ LgpReader.cs:222-368)
    "q_enum_decode" -> { (s, dir) =>
      import s.implicits._
      val m = typedLit(Map(
        "click" -> "Click event", "view" -> "Page view",
        "purchase" -> "Purchase", "error" -> "Error raised"
      ))
      events(s, dir)
        .select(
          $"event_id",
          coalesce(element_at(m, $"event_type"), $"event_type").as("event_kind")
        )
    },
    // P1: timestamp format/parse round-trip (yyyyMMddHHmmss, ≙ LgpReader.cs:107-116)
    "q_ts_parse" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .select(
          $"event_id",
          unix_seconds(
            to_timestamp(date_format($"ts", "yyyyMMddHHmmss"), "yyyyMMddHHmmss")
          ).as("ts_sec")
        )
    },
    // P2: pre-date filter (≙ LgpReader.cs:118-119) + aggregation
    "q_date_filter" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .where($"ts" >= lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"))
    },
    // P3: hex→decimal conversion (≙ LgpReader.cs:131-133). The hex string
    // itself is emitted so the oracle independently recomputes the
    // encoding (upper(to_hex)) — not a Spark-side round-trip identity.
    "q_hex_roundtrip" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .select(
          $"event_id",
          hex($"event_id").as("hexs"),
          conv(hex($"event_id"), 16, 10).cast("long").as("decoded")
        )
    },
    // P12: connection-string parse — regex-extract Database=, strip it
    // from the conn string (≙ ClickHouseStorage.cs:113-125)
    "q_connstr_parse" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"source").distinct()
        .withColumn(
          "conn",
          concat(lit("Host=10.0.0.1;Database=db_"), $"source", lit(";User=svc"))
        )
        .select(
          $"source",
          regexp_extract($"conn", "Database=([^;]+)", 1).as("db"),
          regexp_replace($"conn", "Database=[^;]+;", "").as("stripped")
        )
    },
    // P11: name normalization (≙ ElasticSearchStorage.cs:163-170)
    "q_normalize" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(regexp_replace(lower($"source"), "[^a-z0-9]", "_").as("norm"))
        .distinct()
    },
    // P14: deterministic dense monotonic id (≙ EventLogReader.cs:105-106)
    "q_monotonic_id" -> { (s, dir) =>
      import s.implicits._
      DenseId.assign(
        docs(s, dir).select($"doc_id", $"n_chars"),
        "doc_id", "seq", 8
      ).select($"doc_id", $"seq")
    },
    // §2.7: window ranking (top-3 events per user by value)
    "q_window_rank" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"value".desc, $"event_id".asc)
      events(s, dir)
        .withColumn("rnk", row_number().over(w))
        .where($"rnk" <= 3)
        .select($"user_id", $"event_id", $"rnk".cast("long").as("rnk"))
    }
  )

  /** BM25 oracle in ANSI SQL (DuckDB): exhaustive scoring with the exact
    * same formula the engine uses; `documents` text is single-space
    * separated [a-z0-9]+ so string_split ≡ the engine analyzer here.
    */
  /** `mustNot`: candidates containing ANY excluded term are dropped
    * (stats stay global — ES bool.must_not is non-scoring, like filter).
    * `purgeWhere`: simulate a PURGED index instead — the base corpus is
    * `documents` minus the matching docs, ids renumbered dense in doc_id
    * order and stats/df recomputed (exactly what Tombstones.purge does).
    */
  private def bm25OracleSql(
      terms: Seq[String], and: Boolean, candWhere: String = "",
      mustNot: Seq[String] = Nil, purgeWhere: String = "", msm: Int = 1,
      termWhere: String = "", offset: Int = 0, limit: Int = 10,
      msmSqlExpr: String = "" // terms_set: per-doc required count as SQL over tf.doc_id
  ): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val having =
      if (and) s"HAVING count(*) = ${terms.distinct.size}"
      else if (msmSqlExpr.nonEmpty) s"HAVING count(*) >= ($msmSqlExpr)"
      else if (msm > 1) s"HAVING count(*) >= $msm"
      else ""
    val rel = if (purgeWhere.isEmpty) "documents" else "basedocs"
    val termPred = if (termWhere.isEmpty) s"term IN ($inList)" else termWhere
    val baseCte =
      if (purgeWhere.isEmpty) ""
      else
        s"""basedocs AS (
  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS doc_id, text, lang
  FROM documents WHERE NOT ($purgeWhere)
), """
    // candidate filters gate ONLY which docs may be returned — n/avgdl/df
    // stay corpus-global (ES filter-context semantics)
    val conds = Seq(
      if (candWhere.isEmpty) None
      else Some(s"tf.doc_id IN (SELECT doc_id FROM $rel WHERE $candWhere)"),
      if (mustNot.isEmpty) None
      else Some(s"tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM toks WHERE term IN (${mustNot.map(t => s"'$t'").mkString(", ")}))")
    ).flatten
    val cand = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "")
    s"""WITH ${baseCte}toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $rel WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM $rel d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks WHERE $termPred GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  $cand
  GROUP BY tf.doc_id $having
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores ORDER BY score DESC, doc_id LIMIT $limit OFFSET $offset"""
  }

  /** Exact-phrase oracle: freq = adjacency-join count, idf summed per
    * phrase position — the BlockMaxWand.phrase scoring contract.
    */
  private def phraseOracleSql(phrase: Seq[String]): String = {
    val inList = phrase.distinct.map(t => s"'$t'").mkString(", ")
    // chained positional self-joins: t0.pos+i must hold term i
    val joins = (1 until phrase.size).map { i =>
      s"JOIN toks t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.term = '${phrase(i)}'"
    }.mkString("\n           ")
    s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks WHERE term IN ($inList) GROUP BY 1
), occ(term) AS (VALUES ${phrase.map(t => s"('$t')").mkString(", ")}
), idfs AS (
  SELECT sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))) AS idfsum
  FROM occ JOIN df USING (term) CROSS JOIN stats s
), pf AS (
  SELECT t0.doc_id, count(*) AS freq
  FROM toks t0
           $joins
  WHERE t0.term = '${phrase.head}'
  GROUP BY 1
), scores AS (
  SELECT pf.doc_id,
         i.idfsum * (pf.freq / (pf.freq + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM pf JOIN alldocs ad ON ad.doc_id = pf.doc_id CROSS JOIN stats s CROSS JOIN idfs i
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores ORDER BY score DESC, doc_id LIMIT 10"""
  }

  /** Sloppy-phrase oracle (BlockMaxWand.phraseSlop contract): greedy
    * ordered chain via LATERAL min-position joins, per-match weight
    * ⌊10^6/(1+displacement)⌋ summed as INTEGERS (order-free), freq =
    * weightE6/10^6 — identical float op order to the engine.
    */
  private def phraseSlopOracleSql(phrase: Seq[String], slop: Int): String = {
    val inList = phrase.distinct.map(t => s"'$t'").mkString(", ")
    val L = phrase.size
    // l1..l(L-1): each binds the smallest position of phrase term i
    // strictly after the previous binding (the greedy chain)
    val laterals = (1 until L).map { i =>
      val prev = if (i == 1) "t0.pos" else s"l${i - 1}.p${i - 1}"
      s", LATERAL (SELECT min(x.pos) AS p$i FROM toks x WHERE x.doc_id = t0.doc_id AND x.term = '${phrase(i)}' AND x.pos > $prev) l$i"
    }.mkString("\n  ")
    val pLast = if (L == 1) "t0.pos" else s"l${L - 1}.p${L - 1}"
    s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks WHERE term IN ($inList) GROUP BY 1
), occ(term) AS (VALUES ${phrase.map(t => s"('$t')").mkString(", ")}
), idfs AS (
  SELECT sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))) AS idfsum
  FROM occ JOIN df USING (term) CROSS JOIN stats s
), chain AS (
  SELECT t0.doc_id, ($pLast - t0.pos - ${L - 1})::BIGINT AS disp
  FROM toks t0
  $laterals
  WHERE t0.term = '${phrase.head}'
), pf AS (
  SELECT doc_id, sum(1000000 // (1 + disp))::BIGINT AS w_e6
  FROM chain WHERE disp IS NOT NULL AND disp <= $slop
  GROUP BY 1
), scores AS (
  SELECT pf.doc_id,
         i.idfsum * ((pf.w_e6 / 1000000.0) / ((pf.w_e6 / 1000000.0) + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM pf JOIN alldocs ad ON ad.doc_id = pf.doc_id CROSS JOIN stats s CROSS JOIN idfs i
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores ORDER BY score DESC, doc_id LIMIT 10"""
  }

  /** Fielded most_fields oracle: title = first 5 tokens (boost 2.0), body
    * = full text (boost 1.0); per-field tf/df/dl/avgdl; score = Σ_f
    * boost·idf·impact; candidates = any field matches.
    */
  private def fieldedOracleSql(terms: Seq[String], termPred: String = ""): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val tp = if (termPred.isEmpty) s"term IN ($inList)" else termPred
    s"""WITH tdoc AS (
  SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS text FROM documents
), btoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), ttoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM tdoc WHERE text <> ''
), bdl AS (SELECT doc_id, count(*) AS dl FROM btoks GROUP BY 1
), tdl AS (SELECT doc_id, count(*) AS dl FROM ttoks GROUP BY 1
), ball AS (SELECT d.doc_id, coalesce(bdl.dl, 0) AS dl FROM documents d LEFT JOIN bdl USING (doc_id)
), tall AS (SELECT d.doc_id, coalesce(tdl.dl, 0) AS dl FROM documents d LEFT JOIN tdl USING (doc_id)
), bstats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM ball
), tstats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM tall
), btf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM btoks WHERE $tp GROUP BY 1, 2
), ttf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM ttoks WHERE $tp GROUP BY 1, 2
), bdf AS (SELECT term, count(*)::DOUBLE AS df FROM btf GROUP BY 1
), tdf AS (SELECT term, count(*)::DOUBLE AS df FROM ttf GROUP BY 1
), bscore AS (
  SELECT btf.doc_id,
         sum(1.0 * ln(1 + (s.n - bdf.df + 0.5) / (bdf.df + 0.5))
             * (btf.tf / (btf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.dl / s.avgdl)))) AS sc
  FROM btf JOIN bdf USING (term) JOIN ball ad ON ad.doc_id = btf.doc_id CROSS JOIN bstats s
  GROUP BY 1
), tscore AS (
  SELECT ttf.doc_id,
         sum(2.0 * ln(1 + (s.n - tdf.df + 0.5) / (tdf.df + 0.5))
             * (ttf.tf / (ttf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.dl / s.avgdl)))) AS sc
  FROM ttf JOIN tdf USING (term) JOIN tall ad ON ad.doc_id = ttf.doc_id CROSS JOIN tstats s
  GROUP BY 1
), merged AS (
  SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
         coalesce(t.sc, 0) + coalesce(b.sc, 0) AS score
  FROM tscore t FULL OUTER JOIN bscore b ON t.doc_id = b.doc_id
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM merged ORDER BY score DESC, doc_id LIMIT 10"""
  }

  /** Fielded most_fields phrase oracle: per field (title = first 5 tokens,
    * boost 2.0; body boost 1.0) — phrase freq via positional self-joins,
    * per-field idfSum over phrase POSITIONS (a field missing any term
    * contributes nothing: the idfs CTE's HAVING guard empties it), score =
    * Σ_f boost·idfSum_f·impact(freq_f, dl_f, avgdl_f).
    */
  private def fieldedPhraseOracleSql(phrase: Seq[String]): String = {
    val inList = phrase.distinct.map(t => s"'$t'").mkString(", ")
    def joins(tok: String) = (1 until phrase.size).map { i =>
      s"JOIN $tok t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.term = '${phrase(i)}'"
    }.mkString("\n           ")
    s"""WITH tdoc AS (
  SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS text FROM documents
), btoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents WHERE text <> ''
), ttoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM tdoc WHERE text <> ''
), bdl AS (SELECT doc_id, count(*) AS dl FROM btoks GROUP BY 1
), tdl AS (SELECT doc_id, count(*) AS dl FROM ttoks GROUP BY 1
), ball AS (SELECT d.doc_id, coalesce(bdl.dl, 0) AS dl FROM documents d LEFT JOIN bdl USING (doc_id)
), tall AS (SELECT d.doc_id, coalesce(tdl.dl, 0) AS dl FROM documents d LEFT JOIN tdl USING (doc_id)
), bstats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM ball
), tstats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM tall
), bdf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM btoks WHERE term IN ($inList) GROUP BY 1
), tdf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM ttoks WHERE term IN ($inList) GROUP BY 1
), occ(term) AS (VALUES ${phrase.map(t => s"('$t')").mkString(", ")}
), bidf AS (
  SELECT sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))) AS idfsum
  FROM occ JOIN bdf df USING (term) CROSS JOIN bstats s HAVING count(*) = ${phrase.size}
), tidf AS (
  SELECT sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))) AS idfsum
  FROM occ JOIN tdf df USING (term) CROSS JOIN tstats s HAVING count(*) = ${phrase.size}
), bpf AS (
  SELECT t0.doc_id, count(*) AS freq
  FROM btoks t0
           ${joins("btoks")}
  WHERE t0.term = '${phrase.head}'
  GROUP BY 1
), tpf AS (
  SELECT t0.doc_id, count(*) AS freq
  FROM ttoks t0
           ${joins("ttoks")}
  WHERE t0.term = '${phrase.head}'
  GROUP BY 1
), bscore AS (
  SELECT pf.doc_id,
         1.0 * i.idfsum * (pf.freq / (pf.freq + 1.2 * (1 - 0.75 + 0.75 * ad.dl / s.avgdl))) AS sc
  FROM bpf pf JOIN ball ad ON ad.doc_id = pf.doc_id CROSS JOIN bstats s CROSS JOIN bidf i
), tscore AS (
  SELECT pf.doc_id,
         2.0 * i.idfsum * (pf.freq / (pf.freq + 1.2 * (1 - 0.75 + 0.75 * ad.dl / s.avgdl))) AS sc
  FROM tpf pf JOIN tall ad ON ad.doc_id = pf.doc_id CROSS JOIN tstats s CROSS JOIN tidf i
), merged AS (
  SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
         coalesce(t.sc, 0) + coalesce(b.sc, 0) AS score
  FROM tscore t FULL OUTER JOIN bscore b ON t.doc_id = b.doc_id
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM merged ORDER BY score DESC, doc_id LIMIT 10"""
  }

  private val QsNestedOracle: String =
    """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN ('spark', 'merge', 'window', 'batch') GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), ts AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
           * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl)) AS sc
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
), pd AS (
  SELECT doc_id,
         max(CASE WHEN term = 'spark' THEN sc END) AS s_spark,
         max(CASE WHEN term = 'merge' THEN sc END) AS s_merge,
         max(CASE WHEN term = 'window' THEN sc END) AS s_window,
         max(CASE WHEN term = 'batch' THEN sc END) AS s_batch
  FROM ts GROUP BY 1
), sc AS (
  SELECT doc_id,
         (CASE WHEN s_spark IS NOT NULL AND s_merge IS NOT NULL
               THEN s_spark + s_merge ELSE 0 END)
       + (CASE WHEN s_window IS NOT NULL AND s_batch IS NOT NULL
               THEN s_window + 2 * s_batch ELSE 0 END) AS score
  FROM pd
  WHERE (s_spark IS NOT NULL AND s_merge IS NOT NULL)
     OR (s_window IS NOT NULL AND s_batch IS NOT NULL)
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4
FROM sc ORDER BY score DESC, doc_id LIMIT 10"""

  def oracleSql: Map[String, String] = OpsQueries.oracleSql ++ Map(
    "q_doc_stats" ->
      """SELECT doc_id, coalesce(len(string_split(text, ' ')), 0) AS doc_len
         FROM documents WHERE text <> ''
         UNION ALL
         SELECT doc_id, 0 AS doc_len FROM documents WHERE text = ''""",
    "q_corpus_stats" ->
      """WITH dl AS (
           SELECT CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
           FROM documents)
         SELECT count(*) AS n_docs, round(avg(doc_len) * 1000000)::BIGINT AS avg_dl_e6,
                sum(doc_len)::BIGINT AS total_tokens FROM dl""",
    "q_term_stats" ->
      """SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_tf
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents WHERE text <> '')
         GROUP BY term HAVING count(DISTINCT doc_id) >= 25""",
    "q_posting_decode" ->
      """SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_tf
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents WHERE text <> '')
         GROUP BY term""",
    "q_bm25_topk_or" -> bm25OracleSql(QueryOr, and = false),
    "q_bm25_topk_and" -> bm25OracleSql(QueryAnd, and = true),
    "q_bm25_filtered_kw" -> bm25OracleSql(QueryOr, and = false, candWhere = "lang = 'es'"),
    "q_bm25_filtered_adhoc" -> bm25OracleSql(QueryOr, and = false, candWhere = "lang = 'fr'"),
    "q_bm25_filtered_src" -> bm25OracleSql(QueryOr, and = false,
      candWhere = "source IN ('src3', 'src7', 'src11')"),
    "q_bm25_filtered_num" -> bm25OracleSql(QueryOr, and = false,
      candWhere = "(CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END) BETWEEN 40 AND 89"),
    // facet oracles: match set from tokenized text; the gate fixture's
    // warc_ts = epoch(2021-01-01) + doc_id minutes (documentsAsPages)
    "q_facet_hist" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT strftime(epoch_ms(1609459200000 + doc_id * 60000), '%Y%m%d') AS bucket,
       count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
GROUP BY 1""",
    "q_facet_lang" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT lang, count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks
                 WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
                 GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size})
GROUP BY 1""",
    "q_facet_src" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT source, count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks
                 WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
                 GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size})
GROUP BY 1""",
    "q_bm25_rescore" ->
      s"""SELECT doc_id,
       round((score_e4 / 10000.0)
             * exp(-abs(${1609459200000L + 500L * 60000L} - (1609459200000 + doc_id * 60000)) * ln(2) / 3600000.0)
             * 10000)::BIGINT AS combined_e4
FROM (${bm25OracleSql(QueryOr, and = false, limit = 50)}) b
ORDER BY combined_e4 DESC, doc_id LIMIT 10""",
    "q_sort_ts" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT doc_id, (1609459200000 + doc_id * 60000)::BIGINT AS ts_ms
FROM documents
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
ORDER BY ts_ms DESC, doc_id LIMIT 10""",
    "q_facet_len" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
)
SELECT ((dl.doc_len // 20) * 20)::BIGINT AS bucket_lo, count(*)::BIGINT AS n_docs
FROM dl
WHERE dl.doc_id IN (SELECT DISTINCT doc_id FROM toks
                    WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
GROUP BY 1""",
    "q_match_count" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM toks
WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")})""",
    "q_bm25_collapse" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
), best AS (
  SELECT d.source, s.doc_id, s.score,
         row_number() OVER (PARTITION BY d.source ORDER BY s.score DESC, s.doc_id) AS rn
  FROM scores s JOIN documents d USING (doc_id)
)
SELECT source, doc_id, round(score * 10000)::BIGINT AS score_e4
FROM best WHERE rn = 1 ORDER BY score DESC, doc_id LIMIT 10""",
    "q_facet_src_day" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT source, strftime(epoch_ms(1609459200000 + doc_id * 60000), '%Y%m%d') AS bucket,
       count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks
                 WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
                 GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size})
GROUP BY 1, 2""",
    "q_facet_qs" ->
      """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT strftime(epoch_ms(1609459200000 + doc_id * 60000), '%Y%m%d%H') AS bucket,
       count(*)::BIGINT AS n_docs
FROM documents
WHERE lang = 'en'
  AND doc_id IN (SELECT DISTINCT doc_id FROM toks WHERE term IN ('spark', 'merge'))
  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM toks WHERE term = 'batch')
GROUP BY 1""",
    "q_significant_src" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), m AS (
  SELECT doc_id FROM toks
  WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
  GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size}
), fg AS (
  SELECT source AS v, count(*) AS f FROM documents WHERE doc_id IN (SELECT doc_id FROM m) GROUP BY 1
), bg AS (
  SELECT source AS v, count(*) AS b FROM documents GROUP BY 1
), tot AS (
  SELECT (SELECT count(*) FROM m)::DOUBLE AS fgt, (SELECT count(*) FROM documents)::DOUBLE AS bgt
)
SELECT fg.v AS source, fg.f::BIGINT AS fg_count, bg.b::BIGINT AS bg_count,
       round(((fg.f / t.fgt) - (bg.b / t.bgt)) * ((fg.f / t.fgt) / (bg.b / t.bgt)) * 10000)::BIGINT AS score_e4
FROM fg JOIN bg USING (v) CROSS JOIN tot t
WHERE fg.f / t.fgt > bg.b / t.bgt
ORDER BY score_e4 DESC, source LIMIT 10""",
    "q_facet_stats" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), m AS (
  SELECT dl.doc_len FROM dl
  WHERE dl.doc_id IN (SELECT DISTINCT doc_id FROM toks
                      WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
)
SELECT count(*)::BIGINT AS n_docs, min(doc_len)::BIGINT AS min_v,
       max(doc_len)::BIGINT AS max_v, sum(doc_len)::BIGINT AS sum_v,
       round((sum(doc_len)::DOUBLE / count(*)::DOUBLE) * 10000)::BIGINT AS avg_e4
FROM m""",
    "q_significant_text" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), m AS (
  SELECT doc_id FROM toks
  WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
  GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size}
), fg AS (
  SELECT term, count(DISTINCT doc_id) AS f FROM toks
  WHERE doc_id IN (SELECT doc_id FROM m) AND term <> ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), bg AS (
  SELECT term, count(DISTINCT doc_id) AS b FROM toks GROUP BY 1
), tot AS (
  SELECT (SELECT count(*) FROM m)::DOUBLE AS fgt,
         (SELECT count(*) FROM documents)::DOUBLE AS bgt
)
SELECT fg.term, fg.f::BIGINT AS fg_count, bg.b::BIGINT AS bg_count,
       round(((fg.f / t.fgt) - (bg.b / t.bgt)) * ((fg.f / t.fgt) / (bg.b / t.bgt)) * 10000)::BIGINT AS score_e4
FROM fg JOIN bg USING (term) CROSS JOIN tot t
WHERE fg.f / t.fgt > bg.b / t.bgt
  AND fg.term NOT IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
ORDER BY score_e4 DESC, fg.term LIMIT 10""",
    "q_facet_sampler" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
), sample AS (
  SELECT doc_id FROM scores ORDER BY score DESC, doc_id LIMIT 50
)
SELECT source, count(*)::BIGINT AS n_docs
FROM documents WHERE doc_id IN (SELECT doc_id FROM sample)
GROUP BY 1 ORDER BY n_docs DESC, source""",
    "q_facet_rare" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), m AS (
  SELECT doc_id FROM toks
  WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
  GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size}
)
SELECT source, count(*)::BIGINT AS n_docs
FROM documents WHERE doc_id IN (SELECT doc_id FROM m)
GROUP BY 1 HAVING count(*) <= 14
ORDER BY n_docs, source""",
    "q_facet_wavg" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len,
         1 + (doc_id % 7) AS w
  FROM documents
), m AS (
  SELECT dl.doc_len, dl.w FROM dl
  WHERE dl.doc_id IN (SELECT DISTINCT doc_id FROM toks
                      WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
)
SELECT count(*)::BIGINT AS n_docs, sum(doc_len * w)::BIGINT AS sum_vw, sum(w)::BIGINT AS sum_w,
       round((sum(doc_len * w)::DOUBLE / sum(w)::DOUBLE) * 10000)::BIGINT AS wavg_e4
FROM m""",
    "q_facet_matrix" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS a,
         1 + (doc_id % 7) AS b
  FROM documents
), m AS (
  SELECT a, b FROM dl
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                   WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
), sums AS (
  SELECT count(*)::BIGINT AS n_docs, sum(a)::BIGINT AS sum_a, sum(a*a)::BIGINT AS sum_aa,
         sum(b)::BIGINT AS sum_b, sum(b*b)::BIGINT AS sum_bb, sum(a*b)::BIGINT AS sum_ab
  FROM m
)
SELECT n_docs, sum_a, sum_b, sum_ab,
       round((sum_ab::DOUBLE / n_docs::DOUBLE
              - (sum_a::DOUBLE / n_docs::DOUBLE) * (sum_b::DOUBLE / n_docs::DOUBLE)) * 10000)::BIGINT AS covar_e4,
       round(((sum_ab::DOUBLE / n_docs::DOUBLE
              - (sum_a::DOUBLE / n_docs::DOUBLE) * (sum_b::DOUBLE / n_docs::DOUBLE))
             / sqrt((sum_aa::DOUBLE / n_docs::DOUBLE - (sum_a::DOUBLE / n_docs::DOUBLE) * (sum_a::DOUBLE / n_docs::DOUBLE))
                  * (sum_bb::DOUBLE / n_docs::DOUBLE - (sum_b::DOUBLE / n_docs::DOUBLE) * (sum_b::DOUBLE / n_docs::DOUBLE)))) * 10000)::BIGINT AS corr_e4
FROM sums""",
    "q_facet_mad" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), m AS (
  SELECT dl.doc_len FROM dl
  WHERE dl.doc_id IN (SELECT DISTINCT doc_id FROM toks
                      WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
), tot AS (SELECT count(*)::BIGINT AS c FROM m),
cum AS (
  SELECT v, sum(n) OVER (ORDER BY v) AS cum
  FROM (SELECT doc_len AS v, count(*) AS n FROM m GROUP BY 1)
), med AS (
  SELECT min(v)::BIGINT AS v FROM cum, tot WHERE cum >= ceil(50.0 * c / 100.0)
), dcum AS (
  SELECT v, sum(n) OVER (ORDER BY v) AS cum
  FROM (SELECT abs(m.doc_len - med.v) AS v, count(*) AS n FROM m, med GROUP BY 1)
), mad AS (
  SELECT min(v)::BIGINT AS v FROM dcum, tot WHERE cum >= ceil(50.0 * c / 100.0)
)
SELECT tot.c AS n_docs, med.v AS median_v, mad.v AS mad_v FROM tot, med, mad""",
    "q_facet_date_range" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), ts AS (
  SELECT (1609459200000 + doc_id * 60000)::BIGINT AS ms FROM documents
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                   WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
), b AS (
  SELECT (CASE WHEN ms >= 1609464600000 THEN 1 ELSE 0 END
        + CASE WHEN ms >= 1609466400000 THEN 1 ELSE 0 END
        + CASE WHEN ms >= 1609473600000 THEN 1 ELSE 0 END)::BIGINT AS bucket_idx
  FROM ts
)
SELECT bucket_idx,
       (CASE bucket_idx WHEN 0 THEN -1 WHEN 1 THEN 1609464600000
                        WHEN 2 THEN 1609466400000 ELSE 1609473600000 END)::BIGINT AS from_ms,
       (CASE bucket_idx WHEN 0 THEN 1609464600000 WHEN 1 THEN 1609466400000
                        WHEN 2 THEN 1609473600000 ELSE -1 END)::BIGINT AS to_ms,
       count(*)::BIGINT AS n_docs
FROM b GROUP BY 1 ORDER BY 1""",
    "q_top_metrics" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
)
SELECT doc_id, (1609459200000 + doc_id * 60000)::BIGINT AS ts_ms,
       dl.doc_len::BIGINT AS doc_len, (1 + doc_id % 7)::BIGINT AS weight
FROM dl
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
ORDER BY ts_ms DESC, doc_id LIMIT 10""",
    "q_facet_bucket_sel" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, source,
         CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), b AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(doc_len)::BIGINT AS sum_v
  FROM dl
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                   WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
  GROUP BY 1
)
SELECT source, n_docs,
       round((sum_v::DOUBLE / n_docs::DOUBLE) * 10000)::BIGINT AS avg_e4
FROM b WHERE n_docs >= 15
ORDER BY sum_v::DOUBLE / n_docs::DOUBLE DESC, source
LIMIT 5 OFFSET 1""",
    "q_facet_extstats" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), m AS (
  SELECT dl.doc_len FROM dl
  WHERE dl.doc_id IN (SELECT DISTINCT doc_id FROM toks
                      WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
), sel AS (
  SELECT count(*)::BIGINT AS n_docs, min(doc_len)::BIGINT AS min_v,
         max(doc_len)::BIGINT AS max_v, sum(doc_len)::BIGINT AS sum_v,
         sum(doc_len * doc_len)::BIGINT AS sum_sq
  FROM m
)
SELECT n_docs, min_v, max_v, sum_v, sum_sq,
       round(((sum_sq::DOUBLE / n_docs::DOUBLE)
              - (sum_v::DOUBLE / n_docs::DOUBLE) * (sum_v::DOUBLE / n_docs::DOUBLE)) * 10000)::BIGINT AS var_e4,
       round(sqrt((sum_sq::DOUBLE / n_docs::DOUBLE)
              - (sum_v::DOUBLE / n_docs::DOUBLE) * (sum_v::DOUBLE / n_docs::DOUBLE)) * 10000)::BIGINT AS std_e4
FROM sel""",
    "q_facet_autohist" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), m AS (
  SELECT doc_id FROM documents
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                   WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
), ts AS (
  SELECT doc_id, 1609459200000 + doc_id * 60000 AS ms FROM m
), span AS (
  SELECT min(ms) AS mn, max(ms) AS mx FROM ts
), sel AS (
  SELECT CASE WHEN (mx // 3600000) - (mn // 3600000) + 1 <= 20 THEN 'hour'
              WHEN (mx // 86400000) - (mn // 86400000) + 1 <= 20 THEN 'day'
              ELSE 'month' END AS interval
  FROM span
)
SELECT sel.interval,
       CASE sel.interval
            WHEN 'hour' THEN strftime(epoch_ms(ts.ms), '%Y%m%d%H')
            WHEN 'day' THEN strftime(epoch_ms(ts.ms), '%Y%m%d')
            ELSE strftime(epoch_ms(ts.ms), '%Y%m') END AS bucket,
       count(*)::BIGINT AS n_docs
FROM ts CROSS JOIN sel GROUP BY 1, 2""",
    "q_facet_pct_ranks" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), mv AS (
  SELECT dl.doc_len AS v FROM dl
  WHERE dl.doc_id IN (SELECT DISTINCT doc_id FROM toks
                      WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
), tot AS (
  SELECT count(*)::BIGINT AS n FROM mv
), probes AS (
  SELECT unnest([30, 60, 90, 120])::BIGINT AS value
)
SELECT p.value,
       round((SELECT count(*) FROM mv WHERE mv.v <= p.value) * 1e6 / tot.n)::BIGINT AS pct_e4
FROM probes p CROSS JOIN tot ORDER BY value""",
    "q_facet_pct" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), mv AS (
  SELECT dl.doc_len AS v FROM dl
  WHERE dl.doc_id IN (SELECT DISTINCT doc_id FROM toks
                      WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
), ranked AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn FROM mv
), tot AS (SELECT count(*)::BIGINT AS n FROM mv
), ps(p) AS (VALUES (25), (50), (75), (95), (99))
SELECT ps.p::BIGINT AS p, min(r.v)::BIGINT AS value
FROM ps CROSS JOIN tot JOIN ranked r ON r.rn >= ceil(ps.p * tot.n / 100.0)
GROUP BY ps.p""",
    "q_facet_pct_log" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), mv AS (
  SELECT dl.doc_len AS v FROM dl
  WHERE dl.doc_id IN (SELECT DISTINCT doc_id FROM toks
                      WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
), hist AS (
  SELECT (${graft.functions.LogBuckets.bucketSql("v", 3)})::BIGINT AS b, count(*) AS n
  FROM mv GROUP BY 1
), cum AS (
  SELECT b, sum(n) OVER (ORDER BY b) AS c FROM hist
), tot AS (SELECT count(*)::BIGINT AS n FROM mv
), ps(p) AS (VALUES (25), (50), (75), (95), (99)
), sel AS (
  SELECT ps.p AS p, min(cum.b) AS b
  FROM ps CROSS JOIN tot JOIN cum ON cum.c >= ceil(ps.p * tot.n / 100.0)
  GROUP BY ps.p
)
SELECT p::BIGINT AS p, (${graft.functions.LogBuckets.lowerBoundSql("b", 3)})::BIGINT AS value
FROM sel""",
    "q_facet_range" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
)
SELECT ((CASE WHEN doc_len >= 40 THEN 1 ELSE 0 END)
      + (CASE WHEN doc_len >= 70 THEN 1 ELSE 0 END)
      + (CASE WHEN doc_len >= 100 THEN 1 ELSE 0 END))::BIGINT AS bucket_idx,
       count(*)::BIGINT AS n_docs
FROM dl
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
GROUP BY 1""",
    "q_facet_cardinality" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT count(DISTINCT source)::BIGINT AS n_distinct, true AS is_exact
FROM documents
WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))""",
    "q_mlt" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), stf AS (
  SELECT term, count(*)::BIGINT AS tf FROM toks WHERE doc_id = 42
  GROUP BY 1 HAVING count(*) >= 2
), sdf AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks
  WHERE term IN (SELECT term FROM stf) GROUP BY 1
), sel AS (
  SELECT stf.term FROM stf JOIN sdf USING (term) CROSS JOIN stats s
  ORDER BY stf.tf * ln(1 + (s.n - sdf.df + 0.5) / (sdf.df + 0.5)) DESC, stf.term
  LIMIT 5
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN (SELECT term FROM sel) GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores
WHERE doc_id <> 42 ORDER BY score DESC, doc_id LIMIT 10""",
    "q_top_hits" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
), valued AS (
  SELECT sc.doc_id, sc.score, d.source FROM scores sc JOIN documents d USING (doc_id)
), buckets AS (
  SELECT source, count(*)::BIGINT AS n_docs FROM valued GROUP BY 1
  ORDER BY n_docs DESC, source LIMIT 3
), ranked AS (
  SELECT v.source, v.doc_id, v.score,
         row_number() OVER (PARTITION BY v.source ORDER BY v.score DESC, v.doc_id) AS rank
  FROM valued v JOIN buckets USING (source)
)
SELECT r.source, b.n_docs, r.rank::INT AS rank, r.doc_id,
       round(r.score * 10000)::BIGINT AS score_e4
FROM ranked r JOIN buckets b USING (source) WHERE r.rank <= 2""",
    "q_facet_cumsum" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), hist AS (
  SELECT strftime(epoch_ms(1609459200000 + doc_id * 60000), '%Y%m%d') AS bucket,
         count(*)::BIGINT AS n_docs
  FROM documents
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                   WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
  GROUP BY 1
)
SELECT bucket, n_docs, sum(n_docs) OVER (ORDER BY bucket)::BIGINT AS cum_docs FROM hist""",
    "q_facet_deriv" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), hist AS (
  SELECT strftime(epoch_ms(1609459200000 + doc_id * 60000), '%Y%m%d') AS bucket,
         count(*)::BIGINT AS n_docs
  FROM documents
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                   WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
  GROUP BY 1
), d AS (
  SELECT bucket, n_docs, (n_docs - lag(n_docs) OVER (ORDER BY bucket))::BIGINT AS deriv FROM hist
)
SELECT bucket, n_docs, deriv FROM d WHERE deriv IS NOT NULL""",
    "q_suggest" ->
      """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), df AS (
  SELECT term, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY 1
)
SELECT term AS suggestion, doc_freq::BIGINT AS doc_freq FROM df
WHERE term <> 'merg' AND abs(len(term) - 4) <= 1 AND levenshtein(term, 'merg') <= 1
ORDER BY doc_freq DESC, term LIMIT 5""",
    "q_phrase_suggest" ->
      """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents WHERE text <> ''
), dict AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf FROM toks GROUP BY 1
), tot AS (
  SELECT count(*)::DOUBLE AS tt FROM toks
), c0 AS (
  SELECT term, ttf FROM dict
  WHERE term <> 'sparc' AND abs(len(term) - 5) <= 1 AND levenshtein(term, 'sparc') <= 1
  ORDER BY df DESC, term LIMIT 3
), mstat AS (
  SELECT ttf FROM dict WHERE term = 'merge'
), big AS (
  SELECT a.term AS t1, count(*) AS c
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = 'merge'
  JOIN c0 ON c0.term = a.term
  GROUP BY 1
), scored AS (
  SELECT c0.term || ' merge' AS suggestion,
         ln(c0.ttf::DOUBLE / t.tt)
         + CASE WHEN coalesce(big.c, 0) > 0 THEN ln(big.c::DOUBLE / c0.ttf::DOUBLE)
                ELSE ln(0.4 * (SELECT ttf FROM mstat)::DOUBLE / t.tt) END AS score
  FROM c0 LEFT JOIN big ON big.t1 = c0.term CROSS JOIN tot t
  WHERE EXISTS (SELECT 1 FROM mstat)
)
SELECT suggestion, round(score * 1000000)::BIGINT AS score_e6
FROM scored ORDER BY score_e6 DESC, suggestion LIMIT 3""",
    "q_bm25_msm" -> bm25OracleSql(QueryOr, and = false, msm = 2),
    "q_bm25_terms_set" -> bm25OracleSql(QueryOr, and = false,
      msmSqlExpr = "1 + tf.doc_id % 7"),
    "q_bm25_page2" -> bm25OracleSql(QueryOr, and = false, offset = 10),
    "q_bm25_prefix" -> bm25OracleSql(Nil, and = false, termWhere = "term LIKE 's%'"),
    "q_bm25_wildcard" -> bm25OracleSql(Nil, and = false, termWhere = "term LIKE 's_a%'"),
    "q_bm25_fuzzy" -> bm25OracleSql(Nil, and = false, termWhere = "levenshtein(term, 'merg') <= 1"),
    "q_bm25_explain" -> {
      val inList = QueryOr.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks WHERE term IN ($inList) GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
)
SELECT tf.doc_id, tf.term, tf.tf::BIGINT AS tf, ad.doc_len::BIGINT AS doc_len,
       df.df::BIGINT AS doc_freq,
       round(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl)) * 10000)::BIGINT AS contrib_e4
FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
WHERE tf.doc_id BETWEEN 0 AND 9"""
    },
    // upsert oracle: the corpus of ALL versions (old ids + new version of
    // every 10th doc at id n + doc_id/10, text 'updated '-prefixed);
    // stats/df over all versions (tombstones don't change stats until
    // purge), candidates exclude the retired old versions
    "q_bm25_upsert" -> {
      val inList = QueryOr.map(t => s"'$t'").mkString(", ")
      s"""WITH n0 AS (SELECT count(*)::BIGINT AS n FROM documents
), allver AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT (SELECT n FROM n0) + doc_id // 10 AS doc_id, 'updated ' || text AS text
  FROM documents WHERE doc_id % 10 = 0
), toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM allver WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM allver d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks WHERE term IN ($inList) GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  WHERE tf.doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores ORDER BY score DESC, doc_id LIMIT 10"""
    },
    "q_bm25_must_not" -> bm25OracleSql(QueryOr, and = false, mustNot = Seq("batch")),
    // tombstoned docs can't match but still count in stats (pre-purge)
    "q_bm25_deleted" -> bm25OracleSql(QueryOr, and = false, candWhere = "lang <> 'de'"),
    // post-purge: dense renumbered survivors, stats/df recomputed
    "q_bm25_purged" -> bm25OracleSql(QueryOr, and = false, purgeWhere = "lang = 'de'"),
    "q_facet_multi_terms" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT source, lang, count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks
                 WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
                 GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size})
GROUP BY 1, 2""",
    "q_facet_terms_stats" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), m AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")})
)
SELECT d.source, count(*)::BIGINT AS n_docs, min(dl.doc_len)::BIGINT AS min_v,
       max(dl.doc_len)::BIGINT AS max_v, sum(dl.doc_len)::BIGINT AS sum_v,
       round((sum(dl.doc_len)::DOUBLE / count(*)::DOUBLE) * 10000)::BIGINT AS avg_e4
FROM documents d JOIN dl USING (doc_id)
WHERE d.doc_id IN (SELECT doc_id FROM m)
GROUP BY 1
ORDER BY (sum(dl.doc_len)::DOUBLE / count(*)::DOUBLE) DESC, d.source LIMIT 10""",
    "q_facet_filters" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), m AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")})
)
SELECT bucket, n_docs FROM (
  SELECT 'joins' AS bucket,
         (SELECT count(DISTINCT doc_id) FROM toks
          WHERE doc_id IN (SELECT doc_id FROM m) AND term IN ('join', 'merge'))::BIGINT AS n_docs
  UNION ALL
  SELECT 'vector_scan',
         (SELECT count(*) FROM m
          WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'vector')
            AND doc_id IN (SELECT doc_id FROM toks WHERE term = 'scan'))::BIGINT
) WHERE n_docs > 0 ORDER BY bucket""",
    "q_bm25_phrase_prefix" ->
      """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks GROUP BY 1
), exp AS (
  SELECT term FROM df WHERE term LIKE 's%' ORDER BY term LIMIT 8
), idfs AS (
  SELECT e.term AS eterm,
         ln(1 + (s.n - d0.df + 0.5) / (d0.df + 0.5))
       + ln(1 + (s.n - de.df + 0.5) / (de.df + 0.5)) AS idfsum
  FROM exp e
  JOIN df de ON de.term = e.term
  CROSS JOIN (SELECT df FROM df WHERE term = 'data') d0
  CROSS JOIN stats s
), pf AS (
  SELECT t0.doc_id, t1.term AS eterm, count(*) AS freq
  FROM toks t0
  JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  WHERE t0.term = 'data' AND t1.term IN (SELECT term FROM exp)
  GROUP BY 1, 2
), scores AS (
  SELECT pf.doc_id,
         max(i.idfsum * (pf.freq / (pf.freq + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl)))) AS score
  FROM pf JOIN idfs i USING (eterm)
  JOIN alldocs ad ON ad.doc_id = pf.doc_id CROSS JOIN stats s
  GROUP BY 1
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores
ORDER BY score DESC, doc_id LIMIT 10""",
    "q_bm25_synonym" ->
      """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
  WHERE term IN ('spark', 'merge', 'join') GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), gdf AS (
  SELECT 0 AS grp, (SELECT df FROM df WHERE term = 'spark') AS df
  UNION ALL
  SELECT 1, (SELECT max(df) FROM df WHERE term IN ('merge', 'join'))
), gidf AS (
  SELECT grp, ln(1 + (s.n - df + 0.5) / (df + 0.5)) AS idf FROM gdf CROSS JOIN stats s
), gtf AS (
  SELECT doc_id, CASE WHEN term = 'spark' THEN 0 ELSE 1 END AS grp, sum(tf)::DOUBLE AS tfsum
  FROM tf GROUP BY 1, 2
), scores AS (
  SELECT g.doc_id,
         sum(i.idf * (g.tfsum / (g.tfsum + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl)))) AS score
  FROM gtf g JOIN gidf i USING (grp)
  JOIN alldocs ad ON ad.doc_id = g.doc_id CROSS JOIN stats s
  GROUP BY 1
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores
ORDER BY score DESC, doc_id LIMIT 10""",
    "q_bm25_boost" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum((CASE tf.term WHEN 'spark' THEN 2.0 WHEN 'merge' THEN 1.0 ELSE 0.5 END)
             * ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl)))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores
ORDER BY score DESC, doc_id LIMIT 10""",
    "q_bm25_dismax" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), contrib AS (
  SELECT tf.doc_id,
         ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
         * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS c
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
), scores AS (
  SELECT doc_id, max(c) + 0.3 * (sum(c) - max(c)) AS score FROM contrib GROUP BY 1
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4 FROM scores
ORDER BY score DESC, doc_id LIMIT 10""",
    "q_bm25_scan" -> bm25OracleSql(QueryAnd, and = true, limit = 1000000),
    "q_facet_adjacency" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), m AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")})
), joins AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE doc_id IN (SELECT doc_id FROM m) AND term IN ('join', 'merge')
), vs AS (
  SELECT doc_id FROM m
  WHERE doc_id IN (SELECT doc_id FROM toks WHERE term = 'vector')
    AND doc_id IN (SELECT doc_id FROM toks WHERE term = 'scan')
)
SELECT bucket, n_docs FROM (
  SELECT 'joins' AS bucket, (SELECT count(*) FROM joins)::BIGINT AS n_docs
  UNION ALL
  SELECT 'vector_scan', (SELECT count(*) FROM vs)::BIGINT
  UNION ALL
  SELECT 'joins&vector_scan',
         (SELECT count(*) FROM joins WHERE doc_id IN (SELECT doc_id FROM vs))::BIGINT
) WHERE n_docs > 0 ORDER BY bucket""",
    "q_sample_split" ->
      """SELECT doc_id,
       CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'val'
            WHEN b < 10000 THEN 'test' END AS split
FROM (SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR || 's1'), 1, 8))::BIGINT % 10000 AS b
      FROM documents)""",
    "q_sample_strat" ->
      """SELECT lang, count(*)::BIGINT AS n_docs
FROM (SELECT lang,
             ('0x' || substr(md5(doc_id::VARCHAR || 's2'), 1, 8))::BIGINT % 10000 AS b
      FROM documents)
WHERE b < (CASE WHEN lang = 'en' THEN 2000 ELSE 10000 END)
GROUP BY 1""",
    "q_facet_day_stats" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS doc_len
  FROM documents
), m AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")})
)
SELECT strftime(epoch_ms(1609459200000 + d.doc_id * 60000), '%Y%m%d') AS bucket,
       count(*)::BIGINT AS n_docs, min(dl.doc_len)::BIGINT AS min_v,
       max(dl.doc_len)::BIGINT AS max_v, sum(dl.doc_len)::BIGINT AS sum_v,
       round((sum(dl.doc_len)::DOUBLE / count(*)::DOUBLE) * 10000)::BIGINT AS avg_e4
FROM documents d JOIN dl ON dl.doc_id = d.doc_id
WHERE d.doc_id IN (SELECT doc_id FROM m)
GROUP BY 1""",
    "q_facet_terms_card" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), m AS (
  SELECT doc_id FROM toks
  WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
  GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size}
)
SELECT source, count(DISTINCT lang)::BIGINT AS n_distinct, count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM m)
GROUP BY 1""",
    "q_pack_shards" ->
      """SELECT doc_id,
       (coalesce(sum(n) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        // 2000)::BIGINT AS shard
FROM (SELECT doc_id,
             CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS n
      FROM documents)""",
    "q_facet_movavg" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), hist AS (
  SELECT strftime(epoch_ms(1609459200000 + doc_id * 60000), '%Y%m%d%H') AS bucket,
         count(*)::BIGINT AS n_docs
  FROM documents
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM toks
                   WHERE term IN (${QueryOr.map(t => s"'$t'").mkString(", ")}))
  GROUP BY 1
)
SELECT bucket, n_docs,
       round(avg(n_docs) OVER (ORDER BY bucket
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 10000)::BIGINT AS avg_e4
FROM hist""",
    "q_facet_composite_page" ->
      s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
)
SELECT source, strftime(epoch_ms(1609459200000 + doc_id * 60000), '%Y%m%d') AS bucket,
       count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks
                 WHERE term IN (${QueryAnd.map(t => s"'$t'").mkString(", ")})
                 GROUP BY doc_id HAVING count(DISTINCT term) = ${QueryAnd.distinct.size})
GROUP BY 1, 2
ORDER BY source, bucket LIMIT 10 OFFSET 10""",
    "q_decontaminate" ->
      """WITH tr AS (
  SELECT string_split(text, ' ') AS l FROM documents WHERE doc_id % 10 <> 0 AND text <> ''
), ev AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE doc_id % 10 = 0 AND text <> ''
), trg AS (
  SELECT DISTINCT l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
  FROM (SELECT l, unnest(generate_series(1, len(l) - 2)) AS i FROM tr)
), evg AS (
  SELECT DISTINCT doc_id, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM ev)
), tot AS (
  SELECT doc_id, count(*)::BIGINT AS n_ngrams FROM evg GROUP BY 1
)
SELECT e.doc_id, count(*)::BIGINT AS n_hit, any_value(t.n_ngrams) AS n_ngrams
FROM evg e JOIN tot t USING (doc_id)
WHERE e.g IN (SELECT g FROM trg)
GROUP BY 1""",
    "q_hybrid_rrf" ->
      """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
), lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scores ORDER BY score DESC, doc_id LIMIT 20
), dense AS (
  SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rank
  FROM (SELECT vec_id AS doc_id,
               list_cosine_similarity(embedding,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS c
        FROM embeddings)
  ORDER BY c DESC, doc_id LIMIT 20
), u AS (
  SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM dense
)
SELECT doc_id, round(sum(1.0 / (60 + rank)) * 1e9)::BIGINT AS rrf_e9
FROM u GROUP BY 1 ORDER BY sum(1.0 / (60 + rank)) DESC, doc_id LIMIT 10""",
    "q_hybrid_linear" ->
      """WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), dl AS (
  SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
), alldocs AS (
  SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len FROM documents d LEFT JOIN dl USING (doc_id)
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM alldocs
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.doc_len / s.avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN alldocs ad ON ad.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
), lex AS (
  SELECT doc_id, round(score * 10000)::DOUBLE AS s
  FROM scores ORDER BY score DESC, doc_id LIMIT 20
), dense AS (
  SELECT doc_id, round(c * 10000)::DOUBLE AS s
  FROM (SELECT vec_id AS doc_id,
               list_cosine_similarity(embedding,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS c
        FROM embeddings)
  ORDER BY c DESC, doc_id LIMIT 20
), lmm AS (SELECT min(s) AS mn, max(s) AS mx FROM lex
), dmm AS (SELECT min(s) AS mn, max(s) AS mx FROM dense
), u AS (
  SELECT doc_id, 0.7 * (CASE WHEN mx > mn THEN (s - mn) / (mx - mn) ELSE 1.0 END) AS sc
  FROM lex CROSS JOIN lmm
  UNION ALL
  SELECT doc_id, 0.3 * (CASE WHEN mx > mn THEN (s - mn) / (mx - mn) ELSE 1.0 END) AS sc
  FROM dense CROSS JOIN dmm
)
SELECT doc_id, round(sum(sc) * 1000000)::BIGINT AS lin_e6
FROM u GROUP BY 1 ORDER BY sum(sc) DESC, doc_id LIMIT 10""",
    "q_qs_fielded" ->
      """WITH tdoc AS (
  SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS text
  FROM documents
), btoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), ttoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM tdoc WHERE text <> ''
), bdl AS (SELECT doc_id, count(*) AS dl FROM btoks GROUP BY 1
), tdl AS (SELECT doc_id, count(*) AS dl FROM ttoks GROUP BY 1
), ball AS (SELECT d.doc_id, coalesce(bdl.dl, 0) AS dl FROM documents d LEFT JOIN bdl USING (doc_id)
), tall AS (SELECT d.doc_id, coalesce(tdl.dl, 0) AS dl FROM documents d LEFT JOIN tdl USING (doc_id)
), bstats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM ball
), tstats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM tall
), ttf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM ttoks WHERE term = 'spark' GROUP BY 1
), tdf AS (SELECT count(*)::DOUBLE AS df FROM ttf
), btf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM btoks WHERE term = 'merge' GROUP BY 1
), bdf AS (SELECT count(*)::DOUBLE AS df FROM btf
), tsc AS (
  SELECT ttf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * ttf.tf / (ttf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.dl / s.avgdl)) AS sc
  FROM ttf CROSS JOIN tdf d JOIN tall ad ON ad.doc_id = ttf.doc_id CROSS JOIN tstats s
), bsc AS (
  SELECT btf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * btf.tf / (btf.tf + 1.2 * (1 - 0.75 + 0.75 * ad.dl / s.avgdl)) AS sc
  FROM btf CROSS JOIN bdf d JOIN ball ad ON ad.doc_id = btf.doc_id CROSS JOIN bstats s
)
SELECT t.doc_id, round((t.sc + b.sc) * 10000)::BIGINT AS score_e4
FROM tsc t JOIN bsc b USING (doc_id)
ORDER BY (t.sc + b.sc) DESC, t.doc_id LIMIT 10""",
    "q_qs_bool" -> bm25OracleSql(Seq("spark", "merge"), and = false,
      candWhere = "source = 'src1'", mustNot = Seq("batch")),
    "q_qs_nested" -> QsNestedOracle,
    "q_qs_family" -> QsNestedOracle,
    "q_bm25_batch" ->
      s"""SELECT 1::BIGINT AS qid, * FROM (${bm25OracleSql(QueryOr, and = false)})
UNION ALL SELECT 2::BIGINT AS qid, * FROM (${bm25OracleSql(QueryAnd, and = true)})
UNION ALL SELECT 3::BIGINT AS qid, * FROM (${bm25OracleSql(Seq("window", "batch"), and = false)})""",
    "q_qs_filter" ->
      """SELECT doc_id
FROM (SELECT doc_id, source,
             CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS dl
      FROM documents)
WHERE source = 'src2' AND dl BETWEEN 40 AND 60
ORDER BY doc_id LIMIT 10""",
    "q_bm25_phrase" -> phraseOracleSql(QueryPhrase),
    "q_bm25_slop" -> phraseSlopOracleSql(QueryPhrase, 2),
    "q_bm25_slop3" -> phraseSlopOracleSql(Seq("spark", "merge", "window"), 4),
    "q_bm25_fielded" -> fieldedOracleSql(QueryOr),
    // combined_fields: ONE virtual field — tfc = 2·title_tf + 1·body_tf,
    // dlc = 2·title_dl + 1·body_dl, avgdlc = 2·title_avg + 1·body_avg,
    // idf from max-df; per-doc score = ascending-term sequential fold
    "q_bm25_combined" -> {
      val inList = QueryOr.map(t => s"'$t'").mkString(", ")
      s"""WITH tdoc AS (
  SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS text FROM documents
), btoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE text <> ''
), ttoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM tdoc WHERE text <> ''
), bdl AS (SELECT doc_id, count(*) AS dl FROM btoks GROUP BY 1
), tdl AS (SELECT doc_id, count(*) AS dl FROM ttoks GROUP BY 1
), ball AS (SELECT d.doc_id, coalesce(bdl.dl, 0) AS dl FROM documents d LEFT JOIN bdl USING (doc_id)
), tall AS (SELECT d.doc_id, coalesce(tdl.dl, 0) AS dl FROM documents d LEFT JOIN tdl USING (doc_id)
), stats AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         2.0 * (SELECT avg(dl)::DOUBLE FROM tall) + 1.0 * (SELECT avg(dl)::DOUBLE FROM ball) AS avgdlc
), btf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM btoks WHERE term IN ($inList) GROUP BY 1, 2
), ttf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM ttoks WHERE term IN ($inList) GROUP BY 1, 2
), ctf AS (
  SELECT coalesce(t.doc_id, b.doc_id) AS doc_id, coalesce(t.term, b.term) AS term,
         coalesce(2.0 * t.tf, 0) + coalesce(1.0 * b.tf, 0) AS tfc
  FROM ttf t FULL OUTER JOIN btf b ON t.doc_id = b.doc_id AND t.term = b.term
), dfc AS (
  SELECT term, greatest(
    coalesce((SELECT count(*) FROM btf b2 WHERE b2.term = d.term), 0),
    coalesce((SELECT count(*) FROM ttf t2 WHERE t2.term = d.term), 0))::DOUBLE AS df
  FROM (SELECT DISTINCT term FROM ctf) d
), dlc AS (
  SELECT t.doc_id, 2.0 * t.dl + 1.0 * b.dl AS dlc
  FROM tall t JOIN ball b USING (doc_id)
), scored AS (
  SELECT c.doc_id, c.term,
         ln(1 + (s.n - dfc.df + 0.5) / (dfc.df + 0.5)) * c.tfc
           / (c.tfc + 1.2 * (1 - 0.75 + 0.75 * d.dlc / s.avgdlc)) AS sc
  FROM ctf c JOIN dfc USING (term) JOIN dlc d ON d.doc_id = c.doc_id CROSS JOIN stats s
), folded AS (
  SELECT doc_id, list_reduce(list(sc ORDER BY term), (a, b) -> a + b) AS score
  FROM scored GROUP BY 1
)
SELECT doc_id, round(score * 10000)::BIGINT AS score_e4
FROM folded ORDER BY score DESC, doc_id LIMIT 10"""
    },
    "q_bm25_fielded_prefix" -> fieldedOracleSql(Nil, termPred = "term LIKE 's%'"),
    "q_bm25_fielded_wildcard" -> fieldedOracleSql(Nil, termPred = "term LIKE 's_a%'"),
    // fielded over 2-segment families must equal the single-index fielded
    // answer — same oracle
    "q_bm25_fielded_multiseg" -> fieldedOracleSql(QueryOr),
    "q_bm25_fielded_phrase" -> fieldedPhraseOracleSql(QueryPhrase),
    // multi-segment search must equal the single-index answer — same oracle
    "q_bm25_multiseg" -> bm25OracleSql(QueryOr, and = false),
    // compacted family must equal the single-index answer — same oracle
    "q_bm25_compacted" -> bm25OracleSql(QueryOr, and = false),
    // the gate index synthesizes warc_ts = epoch(2021-01-01) + doc_id
    // minutes (SparkEntry.documentsAsPages), so the oracle derives the
    // same timestamp from doc_id and applies the SAME date predicate
    "q_bm25_filtered_date" -> bm25OracleSql(
      QueryAnd, and = true,
      candWhere = "epoch_ms(1609459200000 + doc_id * 60000) >= TIMESTAMP '2021-01-01 02:00:00' " +
        "AND epoch_ms(1609459200000 + doc_id * 60000) < TIMESTAMP '2021-01-01 05:00:00'"
    ),
    "q_dict_join" ->
      """SELECT e.event_id, coalesce(c.c_name, '') AS user_name,
                coalesce(c.c_mktsegment, '') AS segment
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
    "q_lww_dedup" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)""",
    "q_set_except" ->
      """SELECT DISTINCT user_id FROM events
         WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-30 00:00:00'
         EXCEPT
         SELECT DISTINCT user_id FROM events
         WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-30 00:00:00'""",
    "q_time_bucket" ->
      """SELECT strftime(ts, '%Y%m%d') AS bucket, event_type,
                count(*) AS n, round(sum(value) * 10000)::BIGINT AS total_value_e4
         FROM events GROUP BY 1, 2""",
    "q_checkpoint_top1" ->
      """SELECT epoch_us(ts) AS ts_us, event_id FROM events
         ORDER BY ts DESC, event_id DESC LIMIT 1""",
    "q_enum_decode" ->
      """SELECT event_id,
                CASE event_type WHEN 'click' THEN 'Click event'
                                WHEN 'view' THEN 'Page view'
                                WHEN 'purchase' THEN 'Purchase'
                                WHEN 'error' THEN 'Error raised'
                                ELSE event_type END AS event_kind
         FROM events""",
    "q_ts_parse" ->
      """SELECT event_id, epoch(date_trunc('second', ts))::BIGINT AS ts_sec FROM events""",
    "q_date_filter" ->
      """SELECT event_type, count(*) AS n FROM events
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1""",
    "q_hex_roundtrip" ->
      """SELECT event_id, upper(to_hex(event_id)) AS hexs, event_id AS decoded FROM events""",
    "q_connstr_parse" ->
      """WITH c AS (
           SELECT DISTINCT source,
                  'Host=10.0.0.1;Database=db_' || source || ';User=svc' AS conn
           FROM documents)
         SELECT source,
                regexp_extract(conn, 'Database=([^;]+)', 1) AS db,
                regexp_replace(conn, 'Database=[^;]+;', '') AS stripped
         FROM c""",
    "q_normalize" ->
      """SELECT DISTINCT regexp_replace(lower(source), '[^a-z0-9]', '_', 'g') AS norm
         FROM documents""",
    "q_monotonic_id" ->
      """SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS seq FROM documents""",
    "q_window_rank" ->
      """SELECT user_id, event_id, rnk FROM (
           SELECT user_id, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
           FROM events) WHERE rnk <= 3"""
  )
}
