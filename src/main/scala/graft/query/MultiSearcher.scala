package graft.query

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, AttrSidecar, IndexBuilder, Tombstones}
import graft.query.BlockMaxWand.{BlockRef, FilterIter, PostingIter}
import graft.query.Search.QueryHit
import MultiSearcher.{Block, GroupQ, MatchSlice, PhraseQ, PhraseShape, SegCtx, TermBlocks, TermQ}

/** The BM25 searcher over a segment set: N immutable index segments
  * queried as ONE logical index, no physical merge (≙ Elasticsearch
  * answering one index or a whole `{prefix}-yyyyMMdd` family through the
  * same search path, `ElasticSearchStorage.cs:293-320`; streaming
  * micro-batch segments become queryable the moment they commit). A
  * single index is a one-segment view: [[Search]]'s retrieval operators
  * (term, phrase, rewrites, dis_max, synonyms, phrase-prefix, phrase
  * counts) are `new MultiSearcher(spark, Seq(indexDir))` calls.
  *
  * Semantics (rank-identical to searching the physically merged index):
  *   - global stats: N = Σ n_docs, avgdl = Σ tokens / N;
  *   - global df(t) = Σ per-segment df(t) → one idf per term;
  *   - output docIDs are global: segment base offset + local id — the
  *     SAME remap [[graft.index.SegmentMerge]] applies, so answers match
  *     the merged index exactly;
  *   - WAND bounds: stored per-block `max_impact` is exact only at each
  *     segment's own avgdl, so cross-segment bounds are derived from the
  *     avgdl-independent `max_tf`/`min_dl` block columns (impact is
  *     monotone ↑tf ↓dl ⇒ impact(max_tf, min_dl, globalAvgdl) bounds every
  *     posting for the global avgdl). Bounds only gate skips — scores are
  *     always exact.
  *
  * One-segment rules — a single index answers, scores and skips exactly
  * as a dedicated single-index path would: when the stats family is one
  * segment, avgdl is that segment's stored `avg_dl`, the WAND bound is its
  * stored per-block `max_impact`, and the doc-id base is 0.
  *
  * Scale shape: a top-k query is three jobs — the dictionary collect
  * (≤ |terms| × |segments| rows, summed on the driver), the exchange's
  * map stage and the result. The only shuffle moves the matched posting
  * blocks (and filter ids) of all segments keyed by (segment, slice) —
  * disjoint doc ranges, so per-key local top-k union ⊇ global top-k and
  * the final merge is exact over (Σ nSlices)·k rows. Each query's task
  * context (terms, idfs, dirs, bases, tombstone generations) rides one
  * broadcast; task closures never capture the searcher.
  *
  * Every operator that enumerates a FULL match set — aggregations (the
  * fielded ones too: a fielded walk unions the fields' match streams),
  * `_count`, match-id and match export, collapse, sort-by-field — runs
  * one match walk ([[matchWalk]] unscored, [[scoredWalk]] scored): the
  * same scan, (segment, slice) exchange, AND early exit and filter
  * composition, with only the per-doc fold left to the caller. Every
  * top-k operator runs through [[walkSlices]], the one filter-context
  * dispatch: term WAND, phrase, phrase-prefix (one phrase walk per
  * expansion in one task), the synonym/dis_max group walk
  * ([[BlockMaxWand.groupTopK]]), phrase export and, in
  * [[FieldedSearch]], most_fields WAND (topK, the rewrites and
  * topKMulti), the fielded phrase and combined_fields' (doc, term,
  * Σ w·tf) rows. [[phraseCounts]] counts a set of phrases in one walk.
  *
  * Two more executions of the term walk serve [[Searcher]]: the batch
  * walk ([[batchTopK]]) answers a whole query set with one dictionary
  * job, one scan and one exchange, each task running every query's walk
  * over shared sidecar allow-lists; the driver-local execution
  * ([[topKLocal]]) collects a query's blocks behind a block-count gate
  * and runs the walk per (segment, slice) on the driver. They and
  * [[topK]] share one filter composition ([[SegCtx.filter]]) and one
  * sidecar cursor lifecycle ([[MultiSearcher.withCursors]]).
  *
  * Fields are views: a fielded walk scans every field's view (one
  * pushdown scan, each block tagged with its field), groups all of them
  * by (segment, slice) of the walking view in one exchange, and hands
  * each task the blocks per field; N, avgdl and the WAND bound rule are
  * per field, while filters, tombstones, sidecars and doc-id bases are
  * the walking (first) field's.
  *
  * `explicitBases`: global docID base per segment. Defaults to cumulative
  * n_docs in `segmentDirs` order; pass absolute bases when querying a
  * SUBSET of a larger segment family (e.g. time-bucket pruning) so global
  * ids stay stable across selections.
  *
  * `statsFamily`: the FULL segment family to compute N/avgdl/df over when
  * `segmentDirs` is a pruned subset — pruning must be a pure I/O
  * optimization, so scores (which depend on corpus stats) must equal the
  * unpruned family's. Defaults to `segmentDirs`. (Term-dict lookups over
  * non-selected segments are tiny — posting blocks of pruned segments are
  * still never opened.)
  *
  * Segments are assumed immutable for the searcher's lifetime: corpus
  * stats are read once at construction and [[dfOf]] memoizes document
  * frequencies. A segment directory rebuilt in place under a live
  * searcher yields stale stats; construct a new searcher instead.
  * [[dfOf]] is safe to call from several threads at once.
  */
final class MultiSearcher(
    val spark: SparkSession,
    private[query] val segmentDirs: Seq[String],
    explicitBases: Option[Seq[Long]] = None,
    statsFamily: Option[Seq[String]] = None
) {
  import spark.implicits._
  require(segmentDirs.nonEmpty, "no segments")

  private val segStats = segmentDirs.map(IndexBuilder.readStats(spark, _))
  private val familyDirs = statsFamily.getOrElse(segmentDirs)
  private val familyStats =
    if (statsFamily.isEmpty) segStats
    else familyDirs.map(IndexBuilder.readStats(spark, _))
  private val oneSegment = familyDirs.size == 1
  val bases: Seq[Long] =
    explicitBases.getOrElse(segStats.map(_.n_docs).scanLeft(0L)(_ + _).init)
  require(bases.length == segmentDirs.length, "bases must align with segments")
  val nDocs: Long = familyStats.map(_.n_docs).sum
  private val totalTokens = familyStats.map(_.total_tokens).sum
  val avgDl: Double =
    if (oneSegment) { val s = familyStats.head.avg_dl; if (s > 0) s else 1.0 }
    else if (nDocs > 0 && totalTokens > 0) totalTokens.toDouble / nDocs
    else 1.0

  // Per-searcher dictionary memo: the dictionary is immutable for this
  // searcher's fixed segment list, and a composed query (query_string
  // tree) resolves term stats leaf by leaf — without the memo a Q-leaf
  // tree runs Q sequential dictionary jobs. Absent terms memo as None so
  // repeated misses cost nothing; expansions seed it with the doc_freq
  // their own dictionary read returned. Searchers are constructed per
  // query invocation, so nothing persists across bench runs.
  private val dfMemo = scala.collection.mutable.HashMap.empty[String, Option[Long]]

  /** Global df per query term: Σ over the stats family of each segment's
    * pushdown dictionary read, in one job with no shuffle.
    *
    * The monitor guards only the memo, never the Spark job: concurrent
    * callers snapshot their missing terms, resolve them unlocked (two
    * callers may both resolve an overlapping term — same immutable
    * dictionary, same answer) and store the results under the lock again.
    */
  def dfOf(queryTerms: Seq[String]): Map[String, Long] = {
    val t = queryTerms.distinct
    val missing = dfMemo.synchronized(t.filterNot(dfMemo.contains))
    val got: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else familyDirs
        .map(d => IndexBuilder.readTerms(spark, d).where($"term".isin(missing: _*))
          .select($"term", $"doc_freq"))
        .reduce(_ unionByName _)
        .as[(String, Long)]
        .collect() // ≤ |missing| × |family| rows
        .groupMapReduce(_._1)(_._2)(_ + _)
    dfMemo.synchronized {
      missing.foreach(m => dfMemo(m) = got.get(m))
      t.flatMap(x => dfMemo(x).map(x -> _)).toMap
    }
  }

  /** Dictionary expansion over the stats family: candidates come from
    * each segment's term-sorted parquet (pushdown range/regex cut),
    * global df = Σ per-segment df, cap by (global df desc, term), or by
    * term alone with `termOrder` (match_phrase_prefix's rewrite) —
    * exactly the expansion the physically MERGED index would produce, so
    * family answers stay rank-identical to merged-index answers. The
    * expanded terms' dfs seed the memo, so the walk that follows runs no
    * second dictionary job.
    */
  private[query] def expand(where: Column, maxExpansions: Int, termOrder: Boolean = false): Seq[String] = {
    val reads = familyDirs.map(d =>
      IndexBuilder.readTerms(spark, d).where(where).select($"term", $"doc_freq"))
    val dfs =
      if (reads.size == 1) reads.head
      else reads.reduce(_ unionByName _).groupBy($"term").agg(sum($"doc_freq").as("doc_freq"))
    val order = if (termOrder) Seq(asc("term")) else Seq(desc("doc_freq"), asc("term"))
    val rows = dfs.orderBy(order: _*).limit(maxExpansions)
      .as[(String, Long)].collect() // ≤ maxExpansions rows
    dfMemo.synchronized(rows.foreach { case (t, df) => dfMemo(t) = Some(df) })
    rows.map(_._1).toSeq
  }

  /** Public expansion lists for the composed-query layer (same global-df
    * ordering as the rewrites below).
    */
  def expandPatternTerms(pattern: String, maxExpansions: Int): Seq[String] = {
    val (regex, prefix) = Search.wildcardToRegex(pattern)
    expandRegex(regex, prefix, maxExpansions)
  }

  def expandFuzzyTerms(term: String, maxEdits: Int, maxExpansions: Int): Seq[String] = {
    require(term.nonEmpty, "empty term")
    require(maxEdits >= 0 && maxEdits <= 2, "ES caps fuzziness at 2 edits")
    expand(
      abs(length($"term") - lit(term.length)) <= maxEdits &&
        levenshtein($"term", lit(term)) <= maxEdits,
      maxExpansions)
  }

  private[query] def expandRegex(regex: String, prefixHint: String, maxExpansions: Int): Seq[String] = {
    require(regex.nonEmpty, "empty regex")
    val base = $"term".rlike(s"^(?:$regex)$$")
    expand(if (prefixHint.isEmpty) base else $"term".startsWith(prefixHint) && base, maxExpansions)
  }

  private[query] def none: DataFrame = spark.emptyDataset[QueryHit].toDF()

  private[query] def topOf(hits: Dataset[QueryHit], k: Int): DataFrame =
    hits.toDF().orderBy(desc("score"), asc("doc_id")).limit(k)

  /** (n_docs, nSlices) per segment: fields of one doc space agree on it. */
  private[query] def layout: Seq[(Long, Int)] =
    segStats.map(_.n_docs).zip(segmentDirs.map(IndexBuilder.readMeta(_).nSlices))

  /** This query's context over `views` (this view's doc space, each
    * view's avgdl and bound rule); the driver-local walk uses it as is.
    */
  private def segCtx[Q](q: Q, views: Seq[MultiSearcher] = Seq(this)): SegCtx[Q] =
    SegCtx(segmentDirs.toArray, bases.toArray, segmentDirs.map(Tombstones.handle).toArray,
      views.map(_.avgDl).toArray, views.map(_.oneSegment).toArray, q)

  /** [[segCtx]] for the tasks, in one broadcast. */
  private def context[Q](q: Q, views: Seq[MultiSearcher] = Seq(this)): Broadcast[SegCtx[Q]] =
    spark.sparkContext.broadcast(segCtx(q, views))

  /** Posting blocks of each field's terms in every segment of its view
    * (pushdown `term IN` on each segment's term-sorted postings), tagged
    * with the field's index; fields without terms are not scanned. Field
    * 0 is this view, whose doc space (segments, slices, doc-id bases,
    * tombstones, sidecars) every field shares.
    */
  private def blocks(fields: Seq[(MultiSearcher, Seq[String])]): Dataset[Block] = {
    require(fields.head._1 eq this, "field 0 is the view that walks")
    (for {
      ((v, terms), fi) <- fields.zipWithIndex if terms.nonEmpty
      (d, si) <- v.segmentDirs.zipWithIndex
    } yield IndexBuilder.readPostings(spark, d)
      .where($"term".isin(terms: _*))
      .select(
        lit(fi).as("fld"), lit(si).as("seg"), $"slice", $"term", $"block_id", $"doc_id_min",
        $"doc_id_max", $"count", $"deltas", $"tfs", $"dls", $"poss",
        $"max_impact", $"max_tf", $"min_dl"
      ))
      .reduce(_ unionByName _)
      .as[Block]
  }

  /** Blocks of `fields` grouped by (segment, slice), each group handed to
    * `walk` by field and term, with this query's broadcast context.
    */
  private def walkGroups[Q, R: Encoder](fields: Seq[(MultiSearcher, Seq[String])], q: Q)(
      walk: (SegCtx[Q], Int, Int, Array[TermBlocks]) => Iterator[R]
  ): Dataset[R] = {
    val b = context(q, fields.map(_._1))
    val n = fields.size
    blocks(fields).groupByKey(r => (r.seg, r.slice))
      .flatMapGroups((key, rows) => walk(b.value, key._1, key._2, MultiSearcher.byField(rows, n)))
  }

  /** The filter-context dispatch of every top-k walk, single-field or
    * fielded: no filter; `attrFilter` streamed from the slice's own
    * sidecar (no doc-id exchange — see [[graft.index.AttrSidecar]]); or
    * the ad-hoc `docFilter` Column, whose matching (segment, slice,
    * doc_id) rows of this view co-group with the blocks. Filters are
    * forward-only cursors, so `walk` gets a factory that makes a fresh
    * base filter per use (one per independent sub-walk, e.g. per
    * phrase-prefix expansion or per field); sidecar cursors open and
    * close through [[MultiSearcher.withCursors]].
    */
  private[query] def walkSlices[Q, R: Encoder](
      fields: Seq[(MultiSearcher, Seq[String])], docFilter: Column, attrFilter: AttrPred, q: Q)(
      walk: (SegCtx[Q], Int, Int, Array[TermBlocks], () => DocFilter) => Iterator[R]
  ): Dataset[R] =
    if (docFilter == null) {
      val pred = attrFilter
      walkGroups(fields, q) { (c, seg, slice, byField) =>
        if (pred == null) walk(c, seg, slice, byField, () => null)
        else MultiSearcher.withCursors(c.dirs(seg), slice)(open => walk(c, seg, slice, byField, () => open(pred)))
      }
    } else {
      val b = context(q, fields.map(_._1))
      val n = fields.size
      val filterIds = segmentDirs.zipWithIndex
        .map { case (d, i) =>
          IndexBuilder.withDocsTable(spark, d)(_.where(docFilter))
            .select(lit(i).as("seg"), $"slice".cast("int"), $"doc_id")
        }
        .reduce(_ unionByName _)
        .as[(Int, Int, Long)]
      blocks(fields).groupByKey(r => (r.seg, r.slice))
        .cogroup(filterIds.groupByKey(r => (r._1, r._2))) { (key, rows, fids) =>
          val allow = fids.map(_._3).toArray
          if (allow.isEmpty) Iterator.empty
          else {
            java.util.Arrays.sort(allow)
            walk(b.value, key._1, key._2, MultiSearcher.byField(rows, n), () => new FilterIter(allow))
          }
        }
    }

  /** [[walkSlices]] over this view alone. */
  private def walkTerms[Q](terms: Seq[String], docFilter: Column, attrFilter: AttrPred, q: Q)(
      walk: (SegCtx[Q], Int, Int, TermBlocks, () => DocFilter) => Iterator[QueryHit]
  ): Dataset[QueryHit] =
    walkSlices(Seq(this -> terms), docFilter, attrFilter, q)((c, seg, slice, byField, base) =>
      walk(c, seg, slice, byField(0), base))

  /** A term query compiled against the view's stats, with the terms that
    * are present; None when nothing can match (AND with an absent term,
    * or fewer present terms than `minShouldMatch`). An ES term boost
    * multiplies the term's whole contribution, so it folds into the
    * term's idf and WAND's block bounds scale with it.
    */
  private def termQuery(
      queryTerms: Seq[String], mode: String, mustNot: Seq[String], minShouldMatch: Int,
      k: Int = 0, boosts: Seq[Double] = null, after: BlockMaxWand.Hit = null,
      msmField: String = null
  ): Option[(Seq[String], TermQ)] = {
    val terms = queryTerms.distinct
    val dfs = dfOf(terms)
    val isAnd = mode == "and"
    val present = terms.filter(dfs.contains)
    if ((isAnd && present.size < terms.size) || present.isEmpty || present.size < minShouldMatch)
      None
    else {
      val boostOf: Map[String, Double] =
        if (boosts == null) Map.empty[String, Double].withDefaultValue(1.0)
        else queryTerms.zip(boosts).toMap.withDefaultValue(1.0)
      val idfs = terms.map(t => boostOf(t) * NaiveBm25.idf(nDocs, dfs.getOrElse(t, 0L))).toArray
      Some((present, TermQ(terms.toArray, idfs, mustNot.distinct.toArray, isAnd,
        minShouldMatch, k, after, msmField)))
    }
  }

  /** The unscored match walk — every aggregation, `_count`, match-id
    * export and sort-by-field read enumerates its matches here. One
    * pushdown scan of the query, must_not and `extraTerms` (bucket terms
    * a consumer probes through [[MatchSlice.cursor]]), one exchange by
    * (segment, slice); each task composes the `attrFilter` sidecar
    * cursor, must_not and tombstones into the filter and hands
    * `consume` a [[MatchSlice]] whose [[MatchSlice.ids]] stream the
    * slice's matches in ascending local id. No dictionary is read:
    * nothing is scored, and a slice where an AND term has no blocks is
    * skipped in the task (each segment is its own vocabulary for
    * matching). `allow` — a sorted allow-list of local ids, one-segment
    * views only — joins the filter, so blocks outside it still skip.
    * `otherFields` makes the walk fielded: a doc matches when the query
    * matches it in any field (AND within one field), and the match
    * stream is the union of the fields' streams, each doc once; must_not,
    * `extraTerms`, the sidecar and tombstones stay this view's.
    */
  private[query] def matchWalk[R: Encoder](
      queryTerms: Seq[String], mode: String, attrFilter: AttrPred, mustNot: Seq[String],
      minShouldMatch: Int, extraTerms: Seq[String] = Nil, allow: Array[Long] = null,
      otherFields: Seq[MultiSearcher] = Nil
  )(consume: MatchSlice => Iterator[R]): Dataset[R] = {
    require(allow == null || segmentDirs.size == 1, "an id allow-list needs a one-segment view")
    val terms = queryTerms.distinct
    if (terms.isEmpty || terms.size < minShouldMatch) spark.emptyDataset[R]
    else {
      val q = TermQ(terms.toArray, new Array[Double](terms.size), mustNot.distinct.toArray,
        mode == "and", minShouldMatch, 0, null, null)
      walkGroups((this -> (terms ++ q.exclude ++ extraTerms).distinct) +: otherFields.map(_ -> terms), q)(
        MultiSearcher.sliceWalk(_, _, _, _, attrFilter, allow, consume))
    }
  }

  /** [[matchWalk]] with exact BM25 scores: the query compiles against
    * the view's stats ([[termQuery]]), and [[MatchSlice.hits]] streams
    * (local id, score) in ascending id.
    */
  private[query] def scoredWalk[R: Encoder](
      queryTerms: Seq[String], mode: String, attrFilter: AttrPred, mustNot: Seq[String],
      minShouldMatch: Int
  )(consume: MatchSlice => Iterator[R]): Dataset[R] =
    termQuery(queryTerms, mode, mustNot, minShouldMatch) match {
      case None => spark.emptyDataset[R]
      case Some((present, q)) =>
        walkGroups(Seq(this -> (present ++ q.exclude)), q)(
          MultiSearcher.sliceWalk(_, _, _, _, attrFilter, null, consume))
    }

  /** BM25 top-k over the view — the contract of [[Search.topK]] (filter
    * context, must_not, tombstones, msm, terms_set, search_after, boosts)
    * with family-global stats and ids. `searchAfter`'s doc id is global.
    */
  def topK(
      queryTerms: Seq[String],
      mode: String,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      searchAfter: (Double, Long) = null,
      boosts: Seq[Double] = null,
      msmField: String = null
  ): DataFrame = {
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    require(msmField == null || mode != "and", "terms_set (msmField) is OR-mode only")
    require(boosts == null || boosts.size == queryTerms.size,
      "boosts must align 1:1 with queryTerms")
    require(boosts == null || boosts.forall(_ > 0.0), "boosts must be positive")
    val after = if (searchAfter == null) null else BlockMaxWand.Hit(searchAfter._2, searchAfter._1)
    termQuery(queryTerms, mode, mustNot, minShouldMatch, k, boosts, after, msmField) match {
      case None => none
      case Some((present, q)) =>
        topOf(walkTerms(present ++ q.exclude, docFilter, attrFilter, q)(MultiSearcher.termWalk), k)
    }
  }

  /** The batch walk: a whole query set in one job, as (qid, doc_id,
    * score, rank). One dictionary read of every query's terms and
    * must_not terms, one pushdown scan of the union of their blocks, one
    * (segment, slice) exchange; each task runs every query's term walk
    * ([[MultiSearcher.batchSlice]]), and a per-qid window cuts each
    * query's top-k — exact, since slices are disjoint doc ranges.
    * `allowListCap` bounds each task's materialized sidecar allow-lists
    * (ids per distinct predicate).
    */
  private[query] def batchTopK(queries: Seq[Searcher.BatchQuery], k: Int,
                               allowListCap: Int = MultiSearcher.AllowListCap): DataFrame = {
    dfOf(queries.flatMap(q => q.terms ++ q.mustNot)) // the compiles below read the memo
    // (qid, filter, compiled query) and the terms whose blocks it walks
    val compiled = queries.flatMap(b => termQuery(b.terms, b.mode, b.mustNot, b.minShouldMatch, k)
      .map { case (present, q) => ((b.qid, b.attr, q), present ++ q.exclude) })
    val hits =
      if (compiled.isEmpty) spark.emptyDataset[(Long, Long, Double)]
      else walkGroups(Seq(this -> compiled.flatMap(_._2).distinct), compiled.map(_._1).toArray) {
        (c, seg, slice, byField) => MultiSearcher.batchSlice(c, seg, slice, byField(0), allowListCap)
      }
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"qid").orderBy(desc("score"), asc("doc_id"))
    hits.toDF("qid", "doc_id", "score")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= k)
  }

  /** [[topK]] executed on the driver, for interactive queries whose
    * matched blocks are few: the blocks are collected once and each
    * (segment, slice) runs the same term walk locally, from an
    * unbroadcast context — no exchange, no task round trip. Above
    * `maxBlocks` blocks the query runs distributed through [[topK]] on
    * the dfs already memoized, so hot terms are never collected. Answers
    * are identical: same blocks, same walk, same tie-break.
    */
  private[query] def topKLocal(queryTerms: Seq[String], mode: String, k: Int, maxBlocks: Int,
                               mustNot: Seq[String], minShouldMatch: Int,
                               attrFilter: AttrPred): Seq[(Long, Double)] =
    termQuery(queryTerms, mode, mustNot, minShouldMatch, k) match {
      case None => Nil
      case Some((present, q)) =>
        // cardinality GATE, not a selection: if more than maxBlocks blocks
        // exist, which maxBlocks + 1 arrive is nondeterministic — and
        // irrelevant, because they are then all discarded. The local walk
        // only ever scores a COMPLETE block set.
        val rows = blocks(Seq(this -> (present ++ q.exclude))).limit(maxBlocks + 1)
          .collect() // ≤ maxBlocks + 1 rows
        if (rows.length > maxBlocks)
          topK(queryTerms, mode, k, attrFilter = attrFilter, mustNot = mustNot, minShouldMatch = minShouldMatch)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq // ≤ k rows
        else {
          val c = segCtx(q)
          rows.groupBy(r => (r.seg, r.slice)).iterator.flatMap { case ((seg, slice), rs) =>
            MultiSearcher.withCursors(c.dirs(seg), slice)(open => MultiSearcher.termWalk(
              c, seg, slice, rs.groupBy(_.term), () => if (attrFilter == null) null else open(attrFilter)))
          }.toSeq.sortBy(h => (-h.score, h.doc_id)).take(k).map(h => (h.doc_id, h.score))
        }
    }

  /** [[Search.prefixTopK]] over the view: family-df expansion cap. */
  def prefixTopK(
      prefix: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(prefix.nonEmpty, "empty prefix")
    orTopK(expand($"term".startsWith(prefix), maxExpansions), k, docFilter, attrFilter, mustNot)
  }

  /** [[Search.fuzzyTopK]] over the view. */
  def fuzzyTopK(
      term: String, k: Int, maxEdits: Int = 1, maxExpansions: Int = 64,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    orTopK(expandFuzzyTerms(term, maxEdits, maxExpansions), k, docFilter, attrFilter, mustNot)

  /** [[Search.wildcardTopK]] over the view. */
  def wildcardTopK(
      pattern: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    orTopK(expandPatternTerms(pattern, maxExpansions), k, docFilter, attrFilter, mustNot)

  /** [[Search.regexpTopK]] over the view. */
  def regexpTopK(
      regex: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil, prefixHint: String = ""
  ): DataFrame =
    orTopK(expandRegex(regex, prefixHint, maxExpansions), k, docFilter, attrFilter, mustNot)

  private def orTopK(exps: Seq[String], k: Int, docFilter: Column, attrFilter: AttrPred,
                     mustNot: Seq[String]): DataFrame =
    if (exps.isEmpty) none else topK(exps, "or", k, docFilter, attrFilter, mustNot)

  /** [[Search.disMaxTopK]] over the view: every distinct term is a
    * one-term group, OR, combined as best + tieBreaker · (total − best).
    */
  def disMaxTopK(
      queryTerms: Seq[String], k: Int, tieBreaker: Double = 0.0,
      attrFilter: AttrPred = null, mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, "tie_breaker in [0,1]")
    groupTopK(queryTerms.distinct.map(Seq(_)), isAnd = false, 1, k, attrFilter, mustNot,
      Some(tieBreaker))
  }

  /** [[Search.synonymTopK]] over the view: group scores sum in group
    * order; AND and `minShouldMatch` count matched groups.
    */
  def synonymTopK(
      groups: Seq[Seq[String]], mode: String, k: Int,
      attrFilter: AttrPred = null, mustNot: Seq[String] = Nil, minShouldMatch: Int = 1
  ): DataFrame = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "empty synonym group")
    groupTopK(groups.map(_.distinct), mode == "and", minShouldMatch, k, attrFilter, mustNot, None)
  }

  /** Top-k of a group query: a group's idf is that of its max member
    * df (Lucene SynonymQuery), and a group is present when any member is.
    */
  private def groupTopK(groups: Seq[Seq[String]], isAnd: Boolean, minShouldMatch: Int, k: Int,
                        attrFilter: AttrPred, mustNot: Seq[String],
                        tieBreaker: Option[Double]): DataFrame = {
    val dfs = dfOf(groups.flatten)
    val present = groups.count(_.exists(dfs.contains))
    if (present == 0 || (isAnd && present < groups.size) || present < minShouldMatch) none
    else {
      val q = GroupQ(groups.map(_.toArray).toArray,
        groups.map(g => NaiveBm25.idf(nDocs, g.map(dfs.getOrElse(_, 0L)).max)).toArray,
        mustNot.distinct.toArray, isAnd, minShouldMatch, k, tieBreaker)
      topOf(walkTerms((groups.flatten ++ q.exclude).distinct, null, attrFilter, q)(
        MultiSearcher.groupWalk), k)
    }
  }

  /** Phrase query compiled against the view's stats; None when a phrase
    * term is absent.
    */
  private def phraseQuery(phraseTerms: Seq[String], mustNot: Seq[String], k: Int = 0,
                          slop: Int = 0): Option[PhraseQ] = {
    val shape = MultiSearcher.phraseShape(phraseTerms)
    val dfs = dfOf(shape.terms.toSeq)
    if (shape.terms.exists(t => !dfs.contains(t))) None
    else Some(PhraseQ(
      shape.terms,
      shape.offsets,
      // phrase position j → distinct-term index (slop > 0 walk)
      phraseTerms.map(shape.terms.indexOf(_)).toArray,
      slop,
      // idf summed over every phrase POSITION (duplicate terms count per
      // occurrence — Lucene PhraseQuery shape; the oracle mirrors it)
      phraseTerms.map(t => NaiveBm25.idf(nDocs, dfs(t))).sum,
      mustNot.distinct.toArray,
      k))
  }

  /** [[Search.phraseTopK]] over the view (phrase idf from global dfs). */
  def phraseTopK(
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      slop: Int = 0
  ): DataFrame = {
    require(phraseTerms.nonEmpty, "empty phrase")
    require(slop >= 0, "negative slop")
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    phraseQuery(phraseTerms, mustNot, k, slop) match {
      case None => none
      case Some(q) =>
        topOf(walkTerms(q.terms.toSeq ++ q.exclude, docFilter, attrFilter, q)(MultiSearcher.phraseWalk), k)
    }
  }

  /** [[Search.phrasePrefixTopK]] over the view: the last term expands
    * in term order, each expansion compiles with [[phraseQuery]], and
    * each (segment, slice) task walks every expansion (one scan, one
    * exchange); a doc keeps its best expansion's score.
    */
  def phrasePrefixTopK(
      phraseTerms: Seq[String], k: Int, maxExpansions: Int = 8,
      docFilter: Column = null, attrFilter: AttrPred = null, mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(phraseTerms.nonEmpty, "empty phrase")
    require(maxExpansions >= 1, "maxExpansions must be positive")
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    // a missing non-last term empties every expansion
    val qs = expand($"term".startsWith(phraseTerms.last), maxExpansions, termOrder = true)
      .flatMap(e => phraseQuery(phraseTerms.init :+ e, mustNot, k)).toArray
    if (qs.isEmpty) none
    else topOf(
      walkTerms(qs.flatMap(_.terms).distinct.toSeq ++ mustNot.distinct, docFilter, attrFilter, qs) {
        (c, seg, slice, byTerm, base) =>
          c.q.iterator.flatMap(q => MultiSearcher.phraseWalk(c.copy(q = q), seg, slice, byTerm, base))
      }.groupBy($"doc_id").agg(max($"score").as("score")).as[QueryHit], k)
  }

  /** Occurrence count of each phrase over the view's live docs (Σ of
    * the per-doc phrase freq): one scan of every phrase's terms, one
    * exchange, no dictionary read (nothing is scored).
    */
  def phraseCounts(phrases: Seq[Seq[String]]): Seq[Long] = {
    require(phrases.forall(_.nonEmpty), "empty phrase")
    val shapes = phrases.map(MultiSearcher.phraseShape).toArray
    val perSlice =
      if (shapes.isEmpty) Array.empty[(Int, Long)]
      else walkGroups(Seq(this -> shapes.flatMap(_.terms).distinct.toSeq), shapes)((c, seg, slice, byField) =>
        MultiSearcher.countWalk(c, seg, slice, byField(0)))
        .collect() // ≤ nSlices × |phrases| rows per segment
    val sums = new Array[Long](shapes.length)
    perSlice.foreach { case (pi, n) => sums(pi) += n }
    sums.toSeq
  }

  /** Declared attribute schema (name → kind) — segments of one family
    * share it by construction (merges regenerate sidecars from the same
    * spec), so the head segment's meta is authoritative.
    */
  def attrSchema: Map[String, String] =
    IndexBuilder.readMeta(segmentDirs.head).attrs.map(a => a.name -> a.kind).toMap

  /** [[Search.exportMatches]] over the view: each (segment, slice)
    * streams its full scored match set with global ids — the term leaf
    * of the composed query_string tree.
    */
  def exportMatches(
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    scoredWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch) { s =>
      s.hits.map { case (id, score) => QueryHit(s.docBase + id, score) }
    }.toDF()

  /** FULL exact-phrase match set (global ids, BM25 phrase-freq scores) —
    * the phrase leaf of the query_string tree. No top-k gate: a composed
    * bool needs every match.
    */
  def exportPhrase(phraseTerms: Seq[String], attrFilter: AttrPred = null): DataFrame =
    phraseQuery(phraseTerms, Nil) match {
      case None => none
      case Some(q) => walkTerms(q.terms.toSeq, null, attrFilter, q)(MultiSearcher.phraseExportWalk).toDF()
    }

  /** [[Search.collapseTopK]] over the view: one best hit per keyword
    * value per (segment, slice) task, then one global winner per value,
    * top-k. Global stats and ids, so a family's answer equals the merged
    * index's.
    */
  def collapseTopK(
      queryTerms: Seq[String],
      mode: String,
      kwField: String,
      k: Int,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      valueCap: Int = 1 << 20
  ): DataFrame = {
    require(valueCap > 0, "valueCap must be positive")
    val perSlice = scoredWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch)(
      MultiSearcher.collapseSlice(_, kwField, valueCap)).toDF(kwField, "doc_id", "score")
    // global: one winner per value, then top-k groups by their winner
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(kwField)).orderBy(desc("score"), asc("doc_id"))
    perSlice
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .drop("rn")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Global doc ids admitted by a pure filter, score 0 — per-(segment,
    * slice) sidecar enumeration (tombstones composed), base-offset to
    * global. STREAMED, never buffered: a broad filter like lang:en admits
    * most of a slice.
    */
  def filterDocIds(pred: AttrPred): DataFrame = {
    val tasks = segmentDirs.indices.flatMap(s =>
      (0 until IndexBuilder.readMeta(segmentDirs(s)).nSlices).map(sl => (s, sl))).toArray
    val b = context(tasks)
    spark.range(tasks.length).as[Long]
      .flatMap { i =>
        val c = b.value
        val (seg, slice) = c.q(i.toInt)
        val cursor = AttrSidecar.openCursor(c.dirs(seg), slice, pred)
        val docBase = c.bases(seg)
        Filters.enumerate(c.filter(seg, slice, cursor, Array.empty), 0L, () => cursor.close())
          .map(id => QueryHit(docBase + id, 0.0))
      }
      .toDF()
  }
}

object MultiSearcher {

  /** Default cap on a batch task's materialized allow-list, in ids per
    * distinct predicate.
    */
  private[query] val AllowListCap: Int = 1 << 20

  /** Registers the postings and terms tables of `indexDir` in Spark's
    * cache; Spark substitutes them into every later read of the same
    * paths, every view's included.
    */
  private[query] def cacheTables(spark: SparkSession, indexDir: String): Unit = {
    IndexBuilder.readPostings(spark, indexDir).cache()
    IndexBuilder.readTerms(spark, indexDir).cache()
  }

  /** A matched posting block of field `fld` (0 unless the walk is
    * fielded), segment `seg`.
    */
  private[query] final case class Block(
      fld: Int, seg: Int, slice: Int, term: String, block_id: Int, doc_id_min: Long, doc_id_max: Long,
      count: Int, deltas: Array[Byte], tfs: Array[Byte], dls: Array[Byte], poss: Array[Byte],
      max_impact: Double, max_tf: Int, min_dl: Int)

  /** One field's posting blocks of one (segment, slice), by term. */
  private[query] type TermBlocks = Map[String, Array[Block]]

  /** A (segment, slice) group's blocks, per field of `n`. */
  private def byField(rows: Iterator[Block], n: Int): Array[TermBlocks] = {
    val g = rows.toArray.groupBy(_.fld)
    Array.tabulate(n)(fi => g.get(fi).fold(Map.empty: TermBlocks)(_.groupBy(_.term)))
  }

  /** A compiled term query: distinct terms with their (boosted) idfs. */
  private[query] final case class TermQ(
      terms: Array[String], idfs: Array[Double], exclude: Array[String], isAnd: Boolean,
      msm: Int, k: Int, after: BlockMaxWand.Hit, msmField: String)

  /** A phrase's distinct terms in first-occurrence order and, per
    * distinct term, the phrase offsets where it occurs — a duplicate-term
    * phrase (a a) walks one cursor at both offsets.
    */
  private[query] final case class PhraseShape(terms: Array[String], offsets: Array[Array[Int]])

  private[query] def phraseShape(phraseTerms: Seq[String]): PhraseShape = {
    val distinctTerms = phraseTerms.distinct
    PhraseShape(distinctTerms.toArray, distinctTerms.map(t =>
      phraseTerms.zipWithIndex.collect { case (pt, i) if pt == t => i }.toArray).toArray)
  }

  /** A compiled synonym or dis_max query: member terms and one idf per
    * group; `tieBreaker` is dis_max's, None for synonyms.
    */
  private[query] final case class GroupQ(
      groups: Array[Array[String]], idfs: Array[Double], exclude: Array[String], isAnd: Boolean,
      msm: Int, k: Int, tieBreaker: Option[Double])

  /** A compiled phrase: distinct terms, their phrase offsets, the
    * position → distinct-term chain and the positional idf sum.
    */
  private[query] final case class PhraseQ(
      terms: Array[String], offsets: Array[Array[Int]], chain: Array[Int], slop: Int,
      idfSum: Double, exclude: Array[String], k: Int)

  /** One query's task context: the walking view's segments (dirs,
    * doc-id bases, tombstone generations), per field its avgdl and bound
    * rule, and the query `q`.
    */
  private[query] final case class SegCtx[Q](
      dirs: Array[String], bases: Array[Long], tombs: Array[Tombstones.Handle],
      avgDls: Array[Double], storedBounds: Array[Boolean], q: Q) {

    def avgDl: Double = avgDls(0)

    /** One term's blocks of field `fi` as a doc-ordered cursor. The WAND
      * bound is the stored `max_impact` when the field is a one-segment
      * view, else impact(max_tf, min_dl) at the field's avgdl.
      */
    def iter(rows: Array[Block], termIdx: Int, idf: Double, fi: Int = 0): PostingIter =
      new PostingIter(termIdx, idf,
        rows.sortBy(r => (r.doc_id_min, r.block_id)).map(r =>
          BlockRef(r.doc_id_min, r.doc_id_max, r.count, r.deltas, r.tfs, r.dls, r.poss,
            if (storedBounds(fi)) r.max_impact else IndexBuilder.impact(r.max_tf, r.min_dl, avgDls(fi)))),
        avgDls(fi))

    /** `base` ∧ none of `exclude` ∧ not tombstoned, in one (segment, slice). */
    def filter(seg: Int, slice: Int, base: DocFilter, exclude: Array[PostingIter]): DocFilter = {
      val f = if (exclude.isEmpty) base else Filters.and(base, new NotFilter(new PostingSet(exclude)))
      val tomb = tombs(seg)
      if (tomb == null) f else tomb.compose(slice, f)
    }

    def global(seg: Int, hits: Array[BlockMaxWand.Hit]): Iterator[QueryHit] = {
      val docBase = bases(seg)
      hits.iterator.map(h => QueryHit(docBase + h.docId, h.score))
    }
  }

  /** Query-term cursors (termIdx = query position) of the terms present
    * in field `fi`.
    */
  private def termIters(c: SegCtx[TermQ], terms: TermBlocks, fi: Int = 0): Array[PostingIter] =
    c.q.terms.indices.flatMap(ti => terms.get(c.q.terms(ti)).map(c.iter(_, ti, c.q.idfs(ti), fi))).toArray

  private def excludeIters(c: SegCtx[_], exclude: Array[String],
                           terms: TermBlocks): Array[PostingIter] =
    exclude.flatMap(t => terms.get(t).map(c.iter(_, 0, 0.0)))

  /** Block-max WAND top-k of one (segment, slice): AND, or OR with a
    * fixed or per-doc (terms_set) minimum_should_match.
    */
  private def termWalk(c: SegCtx[TermQ], seg: Int, slice: Int, terms: TermBlocks,
                       base: () => DocFilter): Iterator[QueryHit] = {
    val q = c.q
    val iters = termIters(c, terms)
    val filter = c.filter(seg, slice, base(), excludeIters(c, q.exclude, terms))
    // terms_set: the per-doc required count streams from this slice's own
    // sidecar (monotone cursor — scored pivots strictly increase); closed
    // eagerly since or() returns a materialized Array
    val msmReader = if (q.msmField == null) null else AttrSidecar.openReader(c.dirs(seg), slice)
    val msmOf: Long => Int =
      if (msmReader == null) null
      else {
        val fi = msmReader.numIndex(q.msmField) // loud on undeclared
        id =>
          if (msmReader.seek(id)) {
            // a required-count above Int.MaxValue must clamp, not wrap
            // negative (a wrapped toInt would silently turn "required"
            // into "match any one term")
            val v = msmReader.numValue(fi)
            if (v < 0L || v > Int.MaxValue.toLong) Int.MaxValue else v.toInt
          } else Int.MaxValue
      }
    // search_after in segment-local ids: a cursor in an earlier segment
    // sits below every local id, one in a later segment above them all
    val after =
      if (q.after == null) null else BlockMaxWand.Hit(q.after.docId - c.bases(seg), q.after.score)
    val hits =
      try {
        if (q.isAnd) {
          if (iters.length < q.terms.length) Array.empty[BlockMaxWand.Hit]
          else BlockMaxWand.and(iters, q.k, filter, after)
        } else BlockMaxWand.or(iters, q.k, filter, q.msm, after, msmOf)
      } finally if (msmReader != null) msmReader.close()
    c.global(seg, hits)
  }

  /** One (segment, slice) of the batch walk: every query's [[termWalk]].
    * A distinct predicate's allow-list is materialized once per task and
    * shared by the queries that carry it while it holds ≤ `cap` ids; a
    * broader one streams a fresh sidecar cursor per query, so task memory
    * never scales with selectivity × distinct predicates. The slice's
    * tombstones are read once for the batch too: the queries walk a
    * context without them, each with its own cursor over the shared ids.
    */
  private def batchSlice(c: SegCtx[Array[(Long, AttrPred, TermQ)]], seg: Int, slice: Int,
                         terms: TermBlocks, cap: Int): Iterator[(Long, Long, Double)] = {
    val dir = c.dirs(seg)
    val tomb = c.tombs(seg)
    val deleted = if (tomb == null) Array.emptyLongArray else Tombstones.readSlice(dir, tomb.gen, slice)
    val live = c.copy(tombs = c.tombs.updated(seg, null))
    val allowLists = scala.collection.mutable.HashMap.empty[AttrPred, Array[Long]]
    def base(attr: AttrPred, open: AttrPred => DocFilter): DocFilter = {
      val allowed =
        if (attr == null) null
        else allowLists.getOrElseUpdate(attr, AttrSidecar.matchingDocIdsCapped(dir, slice, attr, cap)) match {
          case null => open(attr) // too broad to materialize
          case ids => new FilterIter(ids)
        }
      if (deleted.isEmpty) allowed else Filters.and(allowed, new NotFilter(new SortedIdsSet(deleted)))
    }
    c.q.iterator.flatMap { case (qid, attr, q) =>
      withCursors(dir, slice)(open => termWalk(live.copy(q = q), seg, slice, terms, () => base(attr, open)))
        .map(h => (qid, h.doc_id, h.score))
    }
  }

  /** Runs `walk` with `open`, which opens a predicate's sidecar cursor on
    * `dir`'s `slice`: the walk's output is materialized, then every
    * cursor it opened closes — the one cursor lifecycle of the task
    * walks, the batch walk and the driver-local walk.
    */
  private def withCursors[R](dir: String, slice: Int)(walk: (AttrPred => DocFilter) => Iterator[R]): Iterator[R] = {
    val opened = scala.collection.mutable.ArrayBuffer.empty[AttrSidecar.AttrCursor]
    try walk { pred =>
      val cursor = AttrSidecar.openCursor(dir, slice, pred)
      opened += cursor
      cursor
    }.toVector.iterator
    finally opened.foreach(_.close())
  }

  /** Positional phrase top-k of one (segment, slice); the filter is
    * built only where every phrase term has blocks.
    */
  private def phraseWalk(c: SegCtx[PhraseQ], seg: Int, slice: Int, terms: TermBlocks,
                         base: () => DocFilter): Iterator[QueryHit] = {
    val q = c.q
    if (!q.terms.forall(terms.contains)) Iterator.empty
    else {
      val filter = c.filter(seg, slice, base(), excludeIters(c, q.exclude, terms))
      val iters = q.terms.map(t => c.iter(terms(t), 0, 0.0)) // idf unused in phrase scoring
      c.global(seg,
        if (q.slop == 0) BlockMaxWand.phrase(iters, q.offsets, q.idfSum, q.k, filter)
        else BlockMaxWand.phraseSlop(iters, q.chain, q.slop, q.idfSum, q.k, filter))
    }
  }

  /** Synonym-group or dis_max top-k of one (segment, slice): one cursor
    * per group member present in the slice; a slice where no group (or,
    * under AND, not every group) has blocks is skipped.
    */
  private def groupWalk(c: SegCtx[GroupQ], seg: Int, slice: Int, terms: TermBlocks,
                        base: () => DocFilter): Iterator[QueryHit] = {
    val q = c.q
    val members = q.groups.map(_.flatMap(t => terms.get(t).map(c.iter(_, 0, 0.0))))
    if (members.forall(_.isEmpty) || (q.isAnd && members.exists(_.isEmpty))) Iterator.empty
    else c.global(seg, BlockMaxWand.groupTopK(members, q.idfs, c.avgDl, q.isAnd, q.msm, q.k,
      c.filter(seg, slice, base(), excludeIters(c, q.exclude, terms)), q.tieBreaker))
  }

  /** (phrase index, occurrence sum) of one (segment, slice) for every
    * phrase whose terms all have blocks here; tombstoned docs excluded.
    */
  private def countWalk(c: SegCtx[Array[PhraseShape]], seg: Int, slice: Int,
                        terms: TermBlocks): Iterator[(Int, Long)] = {
    c.q.iterator.zipWithIndex.collect { case (p, pi) if p.terms.forall(terms.contains) =>
      val iters = p.terms.map(t => c.iter(terms(t), 0, 0.0))
      (pi, BlockMaxWand.phraseMatches(iters, p.offsets, c.filter(seg, slice, null, Array.empty))
        .map(_._2.toLong).sum)
    }
  }

  /** Full phrase match set of one (segment, slice). */
  private def phraseExportWalk(c: SegCtx[PhraseQ], seg: Int, slice: Int, terms: TermBlocks,
                               base: () => DocFilter): Iterator[QueryHit] = {
    if (!c.q.terms.forall(terms.contains)) Iterator.empty
    else {
      val iters = c.q.terms.map(t => c.iter(terms(t), 0, 0.0))
      val docBase = c.bases(seg)
      BlockMaxWand.phraseMatches(iters, c.q.offsets, c.filter(seg, slice, base(), Array.empty))
        .map { case (id, freq, dl) =>
          QueryHit(docBase + id, c.q.idfSum * IndexBuilder.impact(freq, dl, c.avgDl))
        }
    }
  }

  /** One (segment, slice) of a match walk, as its consumer sees it: the
    * segment dir, the slice, the doc-id base, the ascending match stream
    * — [[ids]] unscored or [[hits]] with exact scores; a consumer reads
    * one of them, once — a fresh cursor per pushed-down term
    * ([[cursor]], for bucket membership) and the slice's attribute
    * sidecar ([[reader]], opened on first use). The walk owns the reader
    * and the filters' sidecar cursors. A fielded walk has one (cursors,
    * filter) stream per field that can match here.
    */
  private[query] final class MatchSlice private[MultiSearcher] (
      c: SegCtx[TermQ], seg: Int, val slice: Int, terms: TermBlocks,
      iters: Array[Array[PostingIter]], filters: Array[DocFilter],
      attrCursors: Array[AttrSidecar.AttrCursor]) {
    val dir: String = c.dirs(seg)
    val docBase: Long = c.bases(seg)
    def ids: Iterator[Long] =
      union(iters.indices.map(fi => BlockMaxWand.matchingDocIds(iters(fi), c.q.isAnd, c.q.msm, filters(fi))))
    def hits: Iterator[(Long, Double)] = {
      require(iters.length == 1, "a scored match walk has one field")
      BlockMaxWand.scoredMatches(iters(0), c.q.isAnd, c.q.msm, filters(0))
    }
    def cursor(term: String): Option[PostingIter] = terms.get(term).map(c.iter(_, 0, 0.0))
    private var rd: AttrSidecar.AttrReader = null
    def reader: AttrSidecar.AttrReader = {
      if (rd == null) rd = AttrSidecar.openReader(dir, slice)
      rd
    }
    private var closed = false
    private[MultiSearcher] def close(): Unit = if (!closed) {
      closed = true
      if (rd != null) rd.close()
      attrCursors.foreach(a => if (a != null) a.close())
    }
  }

  /** Ascending union of ascending id streams, each id once. */
  private def union(streams: Seq[Iterator[Long]]): Iterator[Long] =
    if (streams.size == 1) streams.head
    else {
      val bs = streams.map(_.buffered)
      new scala.collection.AbstractIterator[Long] {
        def hasNext: Boolean = bs.exists(_.hasNext)
        def next(): Long = {
          val d = bs.filter(_.hasNext).map(_.head).min
          bs.foreach(b => if (b.hasNext && b.head == d) b.next())
          d
        }
      }
    }

  /** One (segment, slice) of [[MultiSearcher.matchWalk]] and
    * [[MultiSearcher.scoredWalk]]: the AND early exit per field, the
    * filter composition per field stream (sidecar cursor ∧ ¬must_not ∧
    * ¬tombstoned ∧ `allow`), then `consume`. The slice closes when the
    * consumer's output is exhausted or at task completion, whichever
    * comes first, so lazy and eager consumers follow one rule.
    */
  private def sliceWalk[R](c: SegCtx[TermQ], seg: Int, slice: Int, fields: Array[TermBlocks],
                           pred: AttrPred, allow: Array[Long],
                           consume: MatchSlice => Iterator[R]): Iterator[R] = {
    val iters = fields.indices.map(fi => termIters(c, fields(fi), fi))
      .filter(it => it.nonEmpty && !(c.q.isAnd && it.length < c.q.terms.length)).toArray
    if (iters.isEmpty) return Iterator.empty
    val cursors = iters.map(_ => if (pred == null) null else AttrSidecar.openCursor(c.dirs(seg), slice, pred))
    val filters = cursors.map { cursor =>
      val f = c.filter(seg, slice, cursor, excludeIters(c, c.q.exclude, fields(0)))
      if (allow == null) f else Filters.and(f, new SortedIdsFilter(allow))
    }
    val s = new MatchSlice(c, seg, slice, fields(0), iters, filters, cursors)
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => s.close())
    val out = consume(s)
    new scala.collection.AbstractIterator[R] {
      def hasNext: Boolean = {
        val h = out.hasNext
        if (!h) s.close()
        h
      }
      def next(): R = out.next()
    }
  }

  /** One best hit per keyword value of one (segment, slice). */
  private def collapseSlice(s: MatchSlice, fld: String,
                            valueCap: Int): Iterator[(String, Long, Double)] = {
    val reader = s.reader
    val kwIdx = reader.kwIndex(fld)
    // One best hit per value within the task — a task-local COMBINER
    // capped at `valueCap` distinct values: beyond the cap NEW values
    // stream straight through to the global winner-per-value window
    // (Spark's shuffle spills; task memory stays ≤ cap entries), existing
    // values keep combining. Results are identical either way — the
    // downstream window already picks one global winner per value; the
    // map only shrinks the exchange from match-count to
    // nSlices×|values| when the keyword honors its bounded-cardinality
    // contract (the batch walk's allow-list cap treatment, `batchSlice`).
    val best = scala.collection.mutable.HashMap.empty[String, (Long, Double)]
    val streamed = s.hits.flatMap { case (id, sc) =>
      if (!reader.seek(id)) Nil
      else {
        val v = reader.kwValue(kwIdx)
        val gid = s.docBase + id
        best.get(v) match {
          case Some((bid, bs)) =>
            if (sc > bs || (sc == bs && gid < bid)) best.update(v, (gid, sc))
            Nil
          case None =>
            if (best.size < valueCap) { best.update(v, (gid, sc)); Nil }
            else (v, gid, sc) :: Nil
        }
      }
    }
    // the map drains only AFTER the match stream exhausts (++ takes its
    // right side by name)
    streamed ++ best.iterator.map { case (v, (id, sc)) => (v, id, sc) }
  }
}
