package graft

import org.apache.spark.sql.SparkSession
import graft.index.{IndexBuilder, SegmentMerge}
import graft.index.IndexBuilder.BuildConfig
import graft.query.Search

/** The spark-submit entry point (north rule: "runs via spark-submit on
  * multi-executor clusters") — the operational analog of the reference's
  * service host (`OneSTools.EventLog.Exporter/Program.cs:15-18`): one
  * binary that builds (or resumes) an index from a pages table, merges
  * segments, or answers a query.
  *
  * {{{
  * spark-submit --class graft.IndexJob graft.jar \
  *   build      <pages.parquet> <indexDir> [--partitions=N] [--groups=N] [--slices=N] [--block=N] [--positions=0] [--retries=N]
  *   build-time <pages.parquet> <rootDir>  [same flags]     # one segment per month(warc_ts)
  *   ingest-time <pages.parquet> <rootDir> <ingestId> [same flags]  # fold new pages into touched buckets
  *   merge      <indexA> <indexB> <outDir> [same flags]     # byte-identical rebuild merge
  *   fastmerge  <outDir> <indexA> <indexB> [<indexC> ...]   # decode-free stacked merge
  *   compact    <familyRoot> [--merge-factor=N]             # tiered policy to quiescence
  *   search     <indexDir> <and|or> <k> term [term ...] [--lang=xx] [--from=ISO_TS] [--to=ISO_TS] [--must-not=t1,t2] [--min-match=M]
  *   phrase     <indexDir> <k> term [term ...]
  *   prefix-search <indexDir> <k> <prefix> [--max-expansions=N]
  *   fuzzy-search  <indexDir> <k> <term> [--max-edits=N] [--max-expansions=N]
  *   sort-search <indexDir> <and|or> <k> <numField> term [term ...] [--asc=1]  # ES sort-by-field (newest-first reads)
  *   collapse-search <indexDir> <and|or> <k> <kwField> term [term ...]  # ES collapse: one best hit per keyword value
  *   significant <indexDir> <and|or> <kwField> term [term ...]          # ES significant_terms (JLH)
  *   facet-split <indexDir> <and|or> <kwField> <hour|day|month> term [term ...]  # terms × date_histogram
  *   query      <indexDir> <k> <query_string ...>                   # the Kibana search bar (bool/phrase/wildcard/boost/field:)
  *   count       <indexDir> <and|or> term [term ...]                # ES _count over the match set
  *   wildcard-search <indexDir> <k> <pattern>  # * = any run, ? = one char
  *   regexp-search   <indexDir> <k> <regex>    # anchored Java regex
  *   search-segments <k> <and|or> <terms,comma-sep> <segDir> [<segDir> ...]
  *   search-family   <familyRoot> <and|or> <k> term [term ...]
  *   delete     <indexDir> (--lang=xx | --url-prefix=p)      # tombstone marking (Lucene delete semantics)
  *   purge      <indexDir> <outDir> [build flags]            # rewrite without deleted docs
  *   expire-time <rootDir> <cutoffISO>                       # retention: drop buckets older than cutoff's month
  *   facet-hist <indexDir> <and|or> <hour|day|month> term [term ...]   # date_histogram over the match set
  *   facet-lang <indexDir> <and|or> term [term ...] [--field=kw]       # terms agg over the match set (any declared keyword attr)
  *   facet-stats <indexDir> <and|or> <numField> term [term ...]        # ES stats agg (min/max/sum/avg)
  *   facet-terms-stats <indexDir> <and|or> <kwField> <numField> term [...] [--order=avg] [--size=N]  # terms + metric sub-agg
  *   facet-multi <indexDir> <and|or> <kwField1> <kwField2> term [...]  # ES multi_terms (kw × kw)
  *   facet-filters <indexDir> <and|or> name:or:t1,t2 [...] term [...]  # ES filters agg (named buckets)
  *   phrase-prefix <indexDir> <k> term [term ...]                      # match_phrase_prefix (last term = prefix)
  *   synonym-search <indexDir> <and|or> <k> t1,t2 [t3 ...]             # query-time synonyms (each arg = one group)
  *   dismax-search <indexDir> <k> term [term ...] [--tie=30]           # ES dis_max (tie_breaker = tie/100)
  *   facet-hist-stats <indexDir> <and|or> <numField> <hour|day|month> term [...]  # date_histogram + metric sub-agg
  *   facet-card <indexDir> <and|or> <kwField> <distinctField> term [...]          # terms + cardinality sub-agg
  *   export <indexDir> <and|or> term [...] [--out=path] [--must-not=..]# full match set to parquet (ES scroll role)
  *   index-stats <indexDir>                                  # ES _stats analog: corpus/layout/deletes/lineage
  * }}}
  *
  * search's --lang/--from/--to are TYPED predicates → evaluated from the
  * slice attribute sidecar inside the WAND tasks (no doc-id exchange at
  * any selectivity); ad-hoc Column predicates remain available via the
  * library API (`Search.topK(docFilter)`).
  *
  * No `master` is set here — spark-submit / the cluster manager owns it;
  * tests call [[run]] with their own local session. Build resume is
  * automatic: re-submitting the same build command continues from the
  * per-partition checkpoint manifest (≙ the reference's sink-stored
  * position resume, `EventLogExporter.cs:192-241`).
  */
object IndexJob {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName(s"graft-${args.headOption.getOrElse("job")}")
      .getOrCreate()
    try run(spark, args.toIndexedSeq)
    finally spark.stop()
  }

  private def flag(args: Seq[String], name: String, default: Int): Int =
    args.collectFirst { case s if s.startsWith(s"--$name=") => s.drop(name.length + 3).toInt }
      .getOrElse(default)

  private def strFlag(args: Seq[String], name: String): Option[String] =
    args.collectFirst { case s if s.startsWith(s"--$name=") => s.drop(name.length + 3) }

  private def cfg(args: Seq[String]): BuildConfig = BuildConfig(
    nPartitions = flag(args, "partitions", 32),
    nGroups = flag(args, "groups", 4),
    nSlices = flag(args, "slices", 16),
    blockSize = flag(args, "block", 128),
    positions = flag(args, "positions", 1) != 0
  )

  /** Every flag some command reads. Any other `--` argument is rejected
    * by name, so a typo or a retired flag fails instead of being ignored.
    */
  private val Flags = Set("asc", "block", "fail-after-groups", "field", "from", "groups", "hits", "lang",
    "max-edits", "max-expansions", "max-terms", "merge-factor", "min-df", "min-match", "min-tf", "must-not",
    "order", "out", "partitions", "positions", "retries", "size", "slices", "slop", "tie", "to", "url-prefix")

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    args.drop(1).filter(_.startsWith("--")).foreach { a =>
      val name = a.drop(2).takeWhile(_ != '=')
      require(Flags(name) && a.contains('='), s"unknown or malformed flag $a (flags take the form --name=value)")
    }
    import org.apache.spark.sql.functions.{col, lit}
    val positional = args.drop(1).filterNot(_.startsWith("--"))
    def printHits(df: org.apache.spark.sql.DataFrame): Unit =
      df.collect().foreach(r => println(s"${r.getLong(0)}\t${r.getDouble(1)}"))
    // T7 (error → rebuild loop, ≙ EventLogExporter's restart-on-failure):
    // driver-side retry around a RESUMABLE operation — each attempt
    // continues from the checkpoint manifest, so a retry redoes only the
    // failed unit, and the final index is byte-identical (tested via the
    // resume suite). 0 = fail fast (cluster managers often own retries).
    def withRetries[T](args: Seq[String])(body: => T): T = {
      val retries = flag(args, "retries", 0)
      def attempt(n: Int): T =
        try body
        catch {
          case e: Exception if n < retries =>
            System.err.println(
              s"attempt ${n + 1} failed (${e.getMessage}); resuming from checkpoints (${retries - n} retries left)")
            attempt(n + 1)
        }
      attempt(0)
    }
    args.headOption match {
      case Some("build") =>
        val Seq(pagesPath, indexDir) = positional.take(2)
        val pages = spark.read.parquet(pagesPath).as[Page]
        // --fail-after-groups: chaos hook (tests only) — die after N posting
        // groups commit, so the retry loop's resume path is exercisable
        val failAfter = flag(args, "fail-after-groups", Int.MaxValue)
        withRetries(args)(
          IndexBuilder.build(spark, pages, indexDir, cfg(args), failAfterGroups = failAfter))
      case Some("build-time") =>
        val Seq(pagesPath, rootDir) = positional.take(2)
        val pages = spark.read.parquet(pagesPath).as[Page]
        graft.index.TimeBuckets.build(spark, pages, rootDir, cfg(args))
          .foreach(b => println(s"${b.bucket}\t${b.dir}\t${b.n_docs}"))
      case Some("ingest-time") =>
        val Seq(pagesPath, rootDir, ingestId) = positional.take(3)
        val pages = spark.read.parquet(pagesPath).as[Page]
        graft.index.TimeBuckets.ingest(spark, pages, rootDir, ingestId, cfg(args))
          .foreach(b => println(s"${b.bucket}\t${b.dir}\t${b.n_docs}"))
      case Some("compact") =>
        val root = positional.head
        graft.index.SegmentFamily.maybeCompact(spark, root, flag(args, "merge-factor", 4))
        graft.index.SegmentFamily.read(root)
          .foreach(s => println(s"${s.dir}\t${s.n_docs}"))
      case Some("merge") =>
        val Seq(idxA, idxB, outDir) = positional.take(3)
        SegmentMerge.merge(spark, idxA, idxB, outDir, cfg(args))
      case Some("fastmerge") =>
        val outDir = positional.head
        SegmentMerge.fastMerge(spark, positional.tail, outDir)
      case Some("search") =>
        val Seq(indexDir, mode, k) = positional.take(3)
        val terms = positional.drop(3)
        // keyword/date predicates compose into one ES-filter-context filter,
        // evaluated node-locally from the slice attribute sidecar
        import graft.index.AttrPred
        def parseUtcMs(s: String): Long =
          java.time.Instant.parse(
            if (s.contains("T")) s else s.trim.replace(' ', 'T') + (if (s.contains(":")) "Z" else "T00:00:00Z")
          ).toEpochMilli
        val preds = Seq(
          strFlag(args, "lang").map(l => AttrPred.LangIn(l.split(",").toSet)),
          strFlag(args, "from").map(f => AttrPred.TsRange(parseUtcMs(f), Long.MaxValue)),
          strFlag(args, "to").map(t => AttrPred.TsRange(Long.MinValue, parseUtcMs(t)))
        ).flatten
        val attrFilter = if (preds.isEmpty) null else AttrPred.And(preds)
        val mustNot = strFlag(args, "must-not").map(_.split(",").toSeq).getOrElse(Nil)
        printHits(Search.topK(spark, indexDir, terms, mode, k.toInt,
          attrFilter = attrFilter, mustNot = mustNot,
          minShouldMatch = flag(args, "min-match", 1)))
      case Some("query") =>
        // the Kibana search bar from spark-submit: full query_string
        // mini-language (bool/phrases/wildcards/boosts/field filters)
        val Seq(indexDir, k) = positional.take(2)
        val q = positional.drop(2).mkString(" ")
        printHits(graft.query.QueryString.topK(spark, indexDir, q, k.toInt))
      case Some("phrase") =>
        // --slop=N: proximity match (greedy ordered chain, Lucene
        // 1/(1+displacement) weights); 0 = exact adjacency
        val Seq(indexDir, k) = positional.take(2)
        printHits(Search.phraseTopK(spark, indexDir, positional.drop(2), k.toInt,
          slop = flag(args, "slop", 0)))
      case Some("mlt") =>
        // ES more_like_this: docs similar to the doc with id <docId>
        val Seq(indexDir, k, docId) = positional.take(3)
        printHits(Search.moreLikeThis(spark, indexDir, docId.toLong, k.toInt,
          maxQueryTerms = flag(args, "max-terms", 25),
          minTermFreq = flag(args, "min-tf", 1),
          minDocFreq = flag(args, "min-df", 1)))
      case Some("suggest") =>
        // ES term suggester ("did you mean"), suggest_mode: popular
        val Seq(indexDir, term) = positional.take(2)
        Search.suggest(spark, indexDir, term, size = flag(args, "size", 5),
          maxEdits = flag(args, "max-edits", 1))
          .collect().foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}"))
      case Some("top-hits") =>
        // ES terms + top_hits sub-agg: best hits per keyword bucket
        val Seq(indexDir, mode, field) = positional.take(3)
        graft.query.Facets.topHitsAgg(spark, indexDir, positional.drop(3), mode, field,
          size = flag(args, "size", 10), hitsPerBucket = flag(args, "hits", 3))
          .collect().foreach(r => println(
            s"${r.getString(0)}\t${r.getLong(1)}\t${r.getInt(2)}\t${r.getLong(3)}\t${r.getDouble(4)}"))
      case Some("prefix-search") =>
        val Seq(indexDir, k, prefix) = positional.take(3)
        printHits(Search.prefixTopK(spark, indexDir, prefix, k.toInt,
          maxExpansions = flag(args, "max-expansions", 128)))
      case Some("fuzzy-search") =>
        val Seq(indexDir, k, term) = positional.take(3)
        printHits(Search.fuzzyTopK(spark, indexDir, term, k.toInt,
          maxEdits = flag(args, "max-edits", 1),
          maxExpansions = flag(args, "max-expansions", 64)))
      case Some("collapse-search") =>
        // ES field collapsing: one best hit per keyword value
        val Seq(indexDir, mode, k, field) = positional.take(4)
        Search.collapseTopK(spark, indexDir, positional.drop(4), mode, field, k.toInt)
          .collect().foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}\t${r.getDouble(2)}"))
      case Some("significant") =>
        // ES significant_terms (JLH) on a declared keyword attr
        val Seq(indexDir, mode, field) = positional.take(3)
        graft.query.Facets.significantTerms(spark, indexDir, positional.drop(3), mode, field)
          .collect().foreach(r =>
            println(s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t${r.getLong(3)}"))
      case Some("facet-split") =>
        // composite terms × date_histogram (Kibana split-series)
        val Seq(indexDir, mode, field, interval) = positional.take(4)
        graft.query.Facets.termsDateHistogram(spark, indexDir, positional.drop(4), mode,
          field, interval)
          .collect().foreach(r => println(s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}"))
      case Some("sort-search") =>
        // ES sort-by-field: the newest-first event-log read (sort on any
        // declared numeric attr; --asc=1 flips the order)
        val Seq(indexDir, mode, k, field) = positional.take(4)
        graft.query.SortBy.topKByAttr(spark, indexDir, positional.drop(4), mode,
          field, k.toInt, ascending = flag(args, "asc", 0) != 0)
          .collect().foreach(r => println(s"${r.getLong(0)}\t${r.getLong(1)}"))
      case Some("count") =>
        val Seq(indexDir, mode) = positional.take(2)
        println(s"count\t${graft.query.Facets.matchCount(spark, indexDir, positional.drop(2), mode)}")
      case Some("wildcard-search") =>
        val Seq(indexDir, k, pattern) = positional.take(3)
        printHits(Search.wildcardTopK(spark, indexDir, pattern, k.toInt,
          maxExpansions = flag(args, "max-expansions", 128)))
      case Some("regexp-search") =>
        val Seq(indexDir, k, regex) = positional.take(3)
        printHits(Search.regexpTopK(spark, indexDir, regex, k.toInt,
          maxExpansions = flag(args, "max-expansions", 128)))
      case Some("search-segments") =>
        val Seq(k, mode, termsCsv) = positional.take(3)
        val segs = positional.drop(3)
        printHits(new graft.query.MultiSearcher(spark, segs)
          .topK(termsCsv.split(",").toSeq, mode, k.toInt))
      case Some("search-family") =>
        val Seq(root, mode, k) = positional.take(3)
        printHits(graft.index.SegmentFamily.searcher(spark, root)
          .topK(positional.drop(3), mode, k.toInt))
      case Some("delete") =>
        val indexDir = positional.head
        val pred = Seq(
          strFlag(args, "lang").map(l => col("lang").isin(l.split(","): _*)),
          strFlag(args, "url-prefix").map(p => col("url").startsWith(p))
        ).flatten.reduceOption(_ && _)
          .getOrElse(throw new IllegalArgumentException("delete needs --lang= or --url-prefix="))
        val total = graft.index.Tombstones.delete(spark, indexDir, pred)
        println(s"deleted_total\t$total")
      case Some("purge") =>
        val Seq(indexDir, outDir) = positional.take(2)
        // layout defaults to the SOURCE index's meta unless flags override
        val hasLayout = Seq("partitions", "groups", "slices", "block")
          .exists(f => args.exists(_.startsWith(s"--$f=")))
        withRetries(args)(graft.index.Tombstones.purge(
          spark, indexDir, outDir, if (hasLayout) cfg(args) else null))
      case Some("expire-time") =>
        val Seq(rootDir, cutoff) = positional.take(2)
        val ms = java.time.Instant.parse(
          if (cutoff.contains("T")) cutoff
          else cutoff.trim.replace(' ', 'T') + (if (cutoff.contains(":")) "Z" else "T00:00:00Z")
        ).toEpochMilli
        graft.index.TimeBuckets.expire(rootDir, new java.sql.Timestamp(ms))
          .foreach(b => println(s"dropped\t${b.bucket}\t${b.n_docs}"))
      case Some("facet-stats") =>
        // ES stats agg on a declared numeric attr over the match set
        val Seq(indexDir, mode, field) = positional.take(3)
        val r = graft.query.Facets.statsAgg(spark, indexDir, positional.drop(3), mode, field).head()
        println(s"n_docs\t${r.getLong(0)}\tmin\t${r.get(1)}\tmax\t${r.get(2)}\tsum\t${r.get(3)}\tavg\t${r.get(4)}")
      case Some("facet-terms-stats") =>
        // ES terms + metric sub-agg ordered by the sub-metric
        // (--order=count|sum|min|max|avg, --size=N)
        val Seq(indexDir, mode, kwField, numField) = positional.take(4)
        graft.query.Facets.termsStatsAgg(spark, indexDir, positional.drop(4), mode,
          kwField, numField, orderMetric = strFlag(args, "order").getOrElse("avg"),
          size = flag(args, "size", 10))
          .collect().foreach(r => println(
            s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t${r.getLong(3)}\t${r.getLong(4)}\t${r.getDouble(5)}"))
      case Some("facet-hist-stats") =>
        // date_histogram + metric sub-agg (avg <numField> per interval)
        val Seq(indexDir, mode, numField, interval) = positional.take(4)
        graft.query.Facets.dateHistogramStats(spark, indexDir, positional.drop(4), mode,
          numField, interval)
          .collect().foreach(r => println(
            s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t${r.getLong(3)}\t${r.getLong(4)}\t${r.getDouble(5)}"))
      case Some("facet-card") =>
        // terms + cardinality sub-agg (distinct <field2> per <field1>)
        val Seq(indexDir, mode, f1, f2) = positional.take(4)
        graft.query.Facets.termsCardinalityAgg(spark, indexDir, positional.drop(4), mode, f1, f2)
          .collect().foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}"))
      case Some("facet-multi") =>
        // ES multi_terms: composite keyword × keyword buckets
        val Seq(indexDir, mode, f1, f2) = positional.take(4)
        graft.query.Facets.multiTermsAgg(spark, indexDir, positional.drop(4), mode, f1, f2)
          .collect().foreach(r => println(s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}"))
      case Some("facet-filters") =>
        // ES filters agg: named buckets as name:mode:t1,t2 specs
        val Seq(indexDir, mode) = positional.take(2)
        val (specs, terms) = positional.drop(2).partition(_.contains(":"))
        val buckets = specs.map { s =>
          val Array(name, m, ts) = s.split(":", 3)
          (name, ts.split(",").toSeq, m)
        }
        graft.query.Facets.filtersAgg(spark, indexDir, terms, mode, buckets)
          .collect().foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}"))
      case Some("dismax-search") =>
        // ES dis_max over term queries (--tie=0..100 → tie_breaker/100)
        val Seq(indexDir, k) = positional.take(2)
        printHits(Search.disMaxTopK(spark, indexDir, positional.drop(2), k.toInt,
          tieBreaker = flag(args, "tie", 0) / 100.0))
      case Some("export") =>
        // ES scroll role: FULL match set to a parquet sink (--out=path),
        // or a count summary when no sink is given
        val Seq(indexDir, mode) = positional.take(2)
        val df = Search.exportMatches(spark, indexDir, positional.drop(2), mode,
          mustNot = strFlag(args, "must-not").map(_.split(",").toSeq).getOrElse(Nil))
        strFlag(args, "out") match {
          case Some(out) => df.write.mode("overwrite").parquet(out); println(s"exported\t$out")
          case None => println(s"matches\t${df.count()}")
        }
      case Some("phrase-prefix") =>
        // ES match_phrase_prefix (search-as-you-type); last term = prefix
        val Seq(indexDir, k) = positional.take(2)
        printHits(Search.phrasePrefixTopK(spark, indexDir, positional.drop(2), k.toInt,
          maxExpansions = flag(args, "max-expansions", 8)))
      case Some("synonym-search") =>
        // query-time synonyms: each positional arg is one group t1,t2,...
        val Seq(indexDir, mode, k) = positional.take(3)
        printHits(Search.synonymTopK(spark, indexDir,
          positional.drop(3).map(_.split(",").toSeq), mode, k.toInt,
          minShouldMatch = flag(args, "min-match", 1)))
      case Some("facet-hist") =>
        val Seq(indexDir, mode, interval) = positional.take(3)
        graft.query.Facets.dateHistogram(spark, indexDir, positional.drop(3), mode, interval)
          .collect().foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}"))
      case Some("facet-lang") =>
        // --field= aggregates any DECLARED keyword attr (default lang)
        val Seq(indexDir, mode) = positional.take(2)
        graft.query.Facets.termsAgg(spark, indexDir, positional.drop(2), mode,
          kwField = strFlag(args, "field").getOrElse("lang"))
          .collect().foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}"))
      case Some("index-stats") =>
        // ES _stats analog: corpus + layout + delete state + build
        // lineage in one look (reads stats/meta/tombstones + the
        // per-partition build_metrics table)
        val indexDir = positional.head
        val st = IndexBuilder.readStats(spark, indexDir)
        val meta = IndexBuilder.readMeta(indexDir)
        val deleted = graft.index.Tombstones.count(indexDir)
        println(s"n_docs\t${st.n_docs}")
        println(f"avg_dl\t${st.avg_dl}%.4f")
        println(s"total_tokens\t${st.total_tokens}")
        println(s"deleted_docs\t$deleted")
        println(s"format\t${IndexBuilder.readFormatVersion(indexDir)}")
        println(s"n_groups\t${meta.nGroups}\tn_slices\t${meta.nSlices}\tblock_size\t${meta.blockSize}\tpositions\t${meta.positions}")
        val m = spark.read.parquet(s"$indexDir/build_metrics")
        import org.apache.spark.sql.functions.{sum => fsum}
        val row = m.agg(fsum("terms"), fsum("postings"), fsum("blocks"), fsum("bytes")).head()
        println(s"terms\t${row.getLong(0)}\tpostings\t${row.getLong(1)}\tblocks\t${row.getLong(2)}\tpayload_bytes\t${row.getLong(3)}")
      case other =>
        throw new IllegalArgumentException(
          s"unknown command $other; expected build|build-time|ingest-time|expire-time|merge|fastmerge|compact|search|phrase|mlt|suggest|top-hits|prefix-search|fuzzy-search|search-segments|search-family|delete|purge|facet-hist|facet-lang"
        )
    }
  }
}
