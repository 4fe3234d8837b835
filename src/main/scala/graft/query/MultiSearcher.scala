package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, AttrSidecar, IndexBuilder}
import graft.query.BlockMaxWand.{BlockRef, FilterIter, PostingIter}

/** Iterator wrapper used by the family export walks: offsets local ids
  * to global and closes the sidecar cursor on exhaustion. Top-level (not
  * an inner class) so task closures don't capture the MultiSearcher.
  */
private[query] final class GlobalHitIterator(
    base: Iterator[(Long, Double)], docBase: Long, onExhausted: () => Unit
) extends Iterator[Search.QueryHit] {
  private var closed = false
  def hasNext: Boolean = {
    val h = base.hasNext
    if (!h && !closed) { closed = true; onExhausted() }
    h
  }
  def next(): Search.QueryHit = {
    val (id, s) = base.next()
    Search.QueryHit(docBase + id, s)
  }
}

/** Query N immutable index segments as ONE logical index — no physical
  * merge (≙ Elasticsearch serving a search across its `{prefix}-yyyyMMdd`
  * indices, `ElasticSearchStorage.cs:293-320`; streaming micro-batch
  * segments become queryable the moment they commit).
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
  * Scale shape: one job; the only shuffle moves the matched posting
  * blocks (and filter ids) of all segments keyed by (segment, slice) —
  * disjoint doc ranges, so per-key local top-k union ⊇ global top-k and
  * the final merge is exact over (Σ nSlices)·k rows.
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
    segmentDirs: Seq[String],
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
  val bases: Seq[Long] =
    explicitBases.getOrElse(segStats.map(_.n_docs).scanLeft(0L)(_ + _).init)
  require(bases.length == segmentDirs.length)
  val nDocs: Long = familyStats.map(_.n_docs).sum
  private val totalTokens = familyStats.map(_.total_tokens).sum
  val avgDl: Double =
    if (nDocs > 0 && totalTokens > 0) totalTokens.toDouble / nDocs else 1.0

  /** Global df per query term: Σ over the stats family (one tiny job;
    * per-segment terms tables are term-sorted parquet → pushdown each).
    */
  // Per-searcher dictionary memo: the dictionary is immutable for this
  // searcher's fixed segment list, and a composed query (query_string
  // tree) resolves term stats leaf by leaf — without the memo a Q-leaf
  // tree runs Q sequential dictionary jobs. Absent terms memo as None so
  // repeated misses cost nothing. Searchers are constructed per query
  // invocation, so nothing persists across bench runs.
  private val dfMemo = scala.collection.mutable.HashMap.empty[String, Option[Long]]

  // The monitor guards only the memo, never the Spark job: concurrent
  // callers snapshot their missing terms, resolve them unlocked (two
  // callers may both resolve an overlapping term — same immutable
  // dictionary, same answer) and store the results under the lock again.
  def dfOf(queryTerms: Seq[String]): Map[String, Long] = {
    val t = queryTerms.distinct
    val missing = dfMemo.synchronized(t.filterNot(dfMemo.contains))
    val got =
      if (missing.isEmpty) Map.empty[String, Long]
      else familyDirs
        .map(d =>
          IndexBuilder.readTerms(spark, d).where($"term".isin(missing: _*)).toDF())
        .reduce(_ unionByName _)
        .groupBy($"term").agg(sum($"doc_freq").as("df"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
    dfMemo.synchronized {
      missing.foreach(m => dfMemo(m) = got.get(m))
      t.flatMap(x => dfMemo(x).map(x -> _)).toMap
    }
  }

  private type BlockRow =
    (Int, Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Int, Int)

  /** Matched blocks of all segments, keyed by (seg, slice); the WAND bound
    * column is derived from max_tf/min_dl at the GLOBAL avgdl.
    */
  private def segBlocks(terms: Seq[String]): org.apache.spark.sql.Dataset[BlockRow] =
    segmentDirs.zipWithIndex
      .map { case (d, i) =>
        IndexBuilder.readPostings(spark, d)
          .where($"term".isin(terms: _*))
          .select(
            lit(i).as("seg"), $"slice", $"term", $"block_id", $"doc_id_min",
            $"doc_id_max", $"count", $"deltas", $"tfs", $"dls", $"poss",
            $"max_tf", $"min_dl"
          )
      }
      .reduce(_ unionByName _)
      .as[BlockRow]

  /** BM25 top-k over all segments; filter context applies per segment
    * (scores unchanged): `attrFilter` streams each segment's slice
    * sidecar node-locally (no doc-id exchange — see
    * [[graft.index.AttrSidecar]]); `docFilter` is the ad-hoc Column path.
    */
  def topK(
      queryTerms: Seq[String],
      mode: String,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    val terms = queryTerms.distinct
    val dfs = dfOf(terms)
    if (mode == "and" && terms.exists(t => !dfs.contains(t)))
      return spark.emptyDataset[Search.QueryHit].toDF()
    val present = terms.filter(dfs.contains)
    if (present.isEmpty) return spark.emptyDataset[Search.QueryHit].toDF()

    val n = nDocs
    val idfs = terms.map(t => NaiveBm25.idf(n, dfs.getOrElse(t, 0L))).toArray
    val exTerms = mustNot.distinct
    val bTerms = spark.sparkContext.broadcast((terms.toArray, idfs, exTerms.toArray))
    val bBases = spark.sparkContext.broadcast(bases.toArray)
    // per-segment tombstone generation, resolved once driver-side
    val bTombs = spark.sparkContext.broadcast(
      segmentDirs.map(graft.index.Tombstones.handle).toArray)
    val avg = avgDl
    val isAnd = mode == "and"
    val msm = minShouldMatch

    def wand(seg: Int, slice: Int, rows: Iterator[BlockRow], base: DocFilter): Iterator[Search.QueryHit] = {
      val (qTerms, qIdfs, exT) = bTerms.value
      val byTerm = rows.toArray.groupBy(_._3)
      def iterOf(t: String, ti: Int, idf: Double): Option[PostingIter] =
        byTerm.get(t).map { rs =>
          val refs = rs
            .sortBy(r => (r._5, r._4))
            .map(r =>
              BlockRef(r._5, r._6, r._7, r._8, r._9, r._10, r._11,
                IndexBuilder.impact(r._12, r._13, avg)))
          new PostingIter(ti, idf, refs, avg)
        }
      val iters = qTerms.iterator.zipWithIndex
        .flatMap { case (t, ti) => iterOf(t, ti, qIdfs(ti)) }.toArray
      var filter = base
      val exIters = exT.iterator.flatMap(t => iterOf(t, 0, 0.0)).toArray
      if (exIters.nonEmpty)
        filter = Filters.and(filter, new NotFilter(new PostingSet(exIters)))
      val tomb = bTombs.value(seg)
      if (tomb != null) filter = tomb.compose(slice, filter)
      val hits =
        if (isAnd) {
          if (iters.length < qTerms.length) Array.empty[BlockMaxWand.Hit]
          else BlockMaxWand.and(iters, k, filter)
        } else BlockMaxWand.or(iters, k, filter, msm)
      val docBase = bBases.value(seg)
      hits.iterator.map(h => Search.QueryHit(docBase + h.docId, h.score))
    }

    val blocks = segBlocks(present ++ exTerms)
    val bDirs = spark.sparkContext.broadcast(segmentDirs.toArray)
    val localTopK =
      if (docFilter == null && attrFilter == null)
        blocks
          .groupByKey(r => (r._1, r._2))
          .flatMapGroups { (key, rows) => wand(key._1, key._2, rows, null) }
      else if (attrFilter != null) {
        val pred = attrFilter
        blocks
          .groupByKey(r => (r._1, r._2))
          .flatMapGroups { (key, rows) =>
            val cur = AttrSidecar.openCursor(bDirs.value(key._1), key._2, pred)
            try wand(key._1, key._2, rows, cur)
            finally cur.close()
          }
      } else {
        val filterIds = segmentDirs.zipWithIndex
          .map { case (d, i) =>
            IndexBuilder.withDocsTable(spark, d)(_.where(docFilter))
              .select(lit(i).as("seg"), $"slice".cast("int"), $"doc_id")
          }
          .reduce(_ unionByName _)
          .as[(Int, Int, Long)]
        blocks
          .groupByKey(r => (r._1, r._2))
          .cogroup(filterIds.groupByKey(r => (r._1, r._2))) { (key, rows, fids) =>
            val allow = fids.map(_._3).toArray
            if (allow.isEmpty) Iterator.empty
            else {
              java.util.Arrays.sort(allow)
              wand(key._1, key._2, rows, new FilterIter(allow))
            }
          }
      }

    localTopK.toDF().orderBy(desc("score"), asc("doc_id")).limit(k)
  }

  /** Dictionary expansion over the whole family: candidates come from
    * each segment's term-sorted parquet (pushdown range/regex cut),
    * global df = Σ per-segment df, cap by (global df desc, term) —
    * exactly the expansion the physically MERGED index would produce, so
    * family answers stay rank-identical to merged-index answers.
    */
  private def expand(where: Column, maxExpansions: Int): Seq[String] =
    familyDirs
      .map(d => IndexBuilder.readTerms(spark, d).where(where).toDF())
      .reduce(_ unionByName _)
      .groupBy($"term").agg(sum($"doc_freq").as("doc_freq"))
      .orderBy(desc("doc_freq"), asc("term"))
      .limit(maxExpansions)
      .collect().map(_.getString(0)).toSeq

  /** ES prefix query over the segment family (Search.prefixTopK's
    * multi-segment rendition — streaming-ingest families get the full
    * term-level query surface without a physical merge).
    */
  def prefixTopK(
      prefix: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(prefix.nonEmpty, "empty prefix")
    val exps = expand($"term".startsWith(prefix), maxExpansions)
    if (exps.isEmpty) spark.emptyDataset[Search.QueryHit].toDF()
    else topK(exps, "or", k, docFilter, attrFilter, mustNot)
  }

  /** ES fuzzy query over the family (per-family global-df cap). */
  def fuzzyTopK(
      term: String, k: Int, maxEdits: Int = 1, maxExpansions: Int = 64,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(term.nonEmpty, "empty term")
    require(maxEdits >= 0 && maxEdits <= 2, "ES caps fuzziness at 2 edits")
    val exps = expand(
      abs(length($"term") - lit(term.length)) <= maxEdits &&
        levenshtein($"term", lit(term)) <= maxEdits,
      maxExpansions)
    if (exps.isEmpty) spark.emptyDataset[Search.QueryHit].toDF()
    else topK(exps, "or", k, docFilter, attrFilter, mustNot)
  }

  /** ES wildcard query over the family (`*`/`?`; literal-prefix cut). */
  def wildcardTopK(
      pattern: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(pattern.nonEmpty, "empty wildcard pattern")
    val sb = new StringBuilder
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c   => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    val prefix = pattern.takeWhile(c => c != '*' && c != '?')
    regexpTopK(sb.toString(), k, maxExpansions, docFilter, attrFilter, mustNot, prefix)
  }

  /** ES regexp query over the family (anchored Java regex). */
  def regexpTopK(
      regex: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil, prefixHint: String = ""
  ): DataFrame = {
    require(regex.nonEmpty, "empty regex")
    val base = $"term".rlike(s"^(?:$regex)$$")
    val exps = expand(
      if (prefixHint.isEmpty) base else $"term".startsWith(prefixHint) && base,
      maxExpansions)
    if (exps.isEmpty) spark.emptyDataset[Search.QueryHit].toDF()
    else topK(exps, "or", k, docFilter, attrFilter, mustNot)
  }

  /** Exact-phrase top-k across segments (BlockMaxWand.phrase contract). */
  def phraseTopK(
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    val distinctTerms = phraseTerms.distinct
    val offsets: Array[Array[Int]] = distinctTerms.map { t =>
      phraseTerms.zipWithIndex.collect { case (pt, i) if pt == t => i }.toArray
    }.toArray
    val dfs = dfOf(distinctTerms)
    if (distinctTerms.exists(t => !dfs.contains(t)))
      return spark.emptyDataset[Search.QueryHit].toDF()
    val idfSum = phraseTerms.map(t => NaiveBm25.idf(nDocs, dfs(t))).sum
    val exTerms = mustNot.distinct
    val bCtx = spark.sparkContext.broadcast((distinctTerms.toArray, offsets, idfSum, exTerms.toArray))
    val bBases = spark.sparkContext.broadcast(bases.toArray)
    val bTombs = spark.sparkContext.broadcast(
      segmentDirs.map(graft.index.Tombstones.handle).toArray)
    val avg = avgDl

    def run(seg: Int, slice: Int, rows: Iterator[BlockRow], base: DocFilter): Iterator[Search.QueryHit] = {
      val (qTerms, offs, idfS, exT) = bCtx.value
      val byTerm = rows.toArray.groupBy(_._3)
      def refsOf(t: String) = byTerm(t)
        .sortBy(r => (r._5, r._4))
        .map(r =>
          BlockRef(r._5, r._6, r._7, r._8, r._9, r._10, r._11,
            IndexBuilder.impact(r._12, r._13, avg)))
      var filter = base
      val exIters = exT.iterator.filter(byTerm.contains)
        .map(t => new PostingIter(0, 0.0, refsOf(t), avg)).toArray
      if (exIters.nonEmpty)
        filter = Filters.and(filter, new NotFilter(new PostingSet(exIters)))
      val tomb = bTombs.value(seg)
      if (tomb != null) filter = tomb.compose(slice, filter)
      if (!qTerms.forall(byTerm.contains)) return Iterator.empty
      val iters = qTerms.map(t => new PostingIter(0, 0.0, refsOf(t), avg))
      val docBase = bBases.value(seg)
      BlockMaxWand.phrase(iters, offs, idfS, k, filter)
        .iterator.map(h => Search.QueryHit(docBase + h.docId, h.score))
    }

    val blocks = segBlocks(distinctTerms ++ exTerms)
    val bDirs = spark.sparkContext.broadcast(segmentDirs.toArray)
    val localTopK =
      if (docFilter == null && attrFilter == null)
        blocks.groupByKey(r => (r._1, r._2)).flatMapGroups { (key, rows) => run(key._1, key._2, rows, null) }
      else if (attrFilter != null) {
        val pred = attrFilter
        blocks
          .groupByKey(r => (r._1, r._2))
          .flatMapGroups { (key, rows) =>
            val cur = AttrSidecar.openCursor(bDirs.value(key._1), key._2, pred)
            try run(key._1, key._2, rows, cur)
            finally cur.close()
          }
      } else {
        val filterIds = segmentDirs.zipWithIndex
          .map { case (d, i) =>
            IndexBuilder.withDocsTable(spark, d)(_.where(docFilter))
              .select(lit(i).as("seg"), $"slice".cast("int"), $"doc_id")
          }
          .reduce(_ unionByName _)
          .as[(Int, Int, Long)]
        blocks
          .groupByKey(r => (r._1, r._2))
          .cogroup(filterIds.groupByKey(r => (r._1, r._2))) { (key, rows, fids) =>
            val allow = fids.map(_._3).toArray
            if (allow.isEmpty) Iterator.empty
            else {
              java.util.Arrays.sort(allow)
              run(key._1, key._2, rows, new FilterIter(allow))
            }
          }
      }

    localTopK.toDF().orderBy(desc("score"), asc("doc_id")).limit(k)
  }

  /** Declared attribute schema (name → kind) — segments of one family
    * share it by construction (merges regenerate sidecars from the same
    * spec), so the head segment's meta is authoritative.
    */
  def attrSchema: Map[String, String] =
    IndexBuilder.readMeta(segmentDirs.head).attrs.map(a => a.name -> a.kind).toMap

  /** Public expansion lists for the composed-query layer (same global-df
    * ordering as the family rewrites above).
    */
  def expandPatternTerms(pattern: String, maxExpansions: Int): Seq[String] = {
    require(pattern.nonEmpty, "empty wildcard pattern")
    val sb = new StringBuilder
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c   => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    val prefix = pattern.takeWhile(c => c != '*' && c != '?')
    val base = $"term".rlike(s"^(?:${sb.toString()})$$")
    expand(if (prefix.isEmpty) base else $"term".startsWith(prefix) && base, maxExpansions)
  }

  def expandFuzzyTerms(term: String, maxEdits: Int, maxExpansions: Int): Seq[String] = {
    require(term.nonEmpty, "empty term")
    require(maxEdits >= 0 && maxEdits <= 2, "ES caps fuzziness at 2 edits")
    expand(
      abs(length($"term") - lit(term.length)) <= maxEdits &&
        levenshtein($"term", lit(term)) <= maxEdits,
      maxExpansions)
  }

  /** FULL match set (global doc_id, exact BM25 score) — the family dual
    * of [[Search.exportMatches]], the building block the composed
    * query_string tree needs. Streams each (segment, slice)'s walk; no
    * top-k cut, no block-max gate (no threshold exists).
    */
  def exportMatches(
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    val terms = queryTerms.distinct
    val dfs = dfOf(terms)
    val isAnd = mode == "and"
    if (isAnd && terms.exists(t => !dfs.contains(t)))
      return spark.emptyDataset[Search.QueryHit].toDF()
    val present = terms.filter(dfs.contains)
    if (present.isEmpty || present.size < minShouldMatch)
      return spark.emptyDataset[Search.QueryHit].toDF()
    val idfs = terms.map(t => NaiveBm25.idf(nDocs, dfs.getOrElse(t, 0L))).toArray
    val exTerms = mustNot.distinct
    val bTerms = spark.sparkContext.broadcast((terms.toArray, idfs, exTerms.toArray))
    val bBases = spark.sparkContext.broadcast(bases.toArray)
    val bTombs = spark.sparkContext.broadcast(
      segmentDirs.map(graft.index.Tombstones.handle).toArray)
    val bDirs = spark.sparkContext.broadcast(segmentDirs.toArray)
    val avg = avgDl
    val msm = minShouldMatch
    val pred = attrFilter

    segBlocks(present ++ exTerms)
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key, rows) =>
        val (seg, slice) = key
        val (qTerms, qIdfs, exT) = bTerms.value
        val byTerm = rows.toArray.groupBy(_._3)
        def iterOf(t: String, ti: Int, idf: Double): Option[PostingIter] =
          byTerm.get(t).map { rs =>
            val refs = rs.sortBy(r => (r._5, r._4))
              .map(r => BlockRef(r._5, r._6, r._7, r._8, r._9, r._10, r._11,
                IndexBuilder.impact(r._12, r._13, avg)))
            new PostingIter(ti, idf, refs, avg)
          }
        val iters = qTerms.iterator.zipWithIndex
          .flatMap { case (t, ti) => iterOf(t, ti, qIdfs(ti)) }.toArray
        if (iters.isEmpty || (isAnd && iters.length < qTerms.length)) Iterator.empty
        else {
          var filter: DocFilter =
            if (pred == null) null else AttrSidecar.openCursor(bDirs.value(seg), slice, pred)
          val predCursor = filter
          val exIters = exT.iterator.flatMap(t => iterOf(t, 0, 0.0)).toArray
          if (exIters.nonEmpty)
            filter = Filters.and(filter, new NotFilter(new PostingSet(exIters)))
          val tomb = bTombs.value(seg)
          if (tomb != null) filter = tomb.compose(slice, filter)
          val docBase = bBases.value(seg)
          val baseIt = BlockMaxWand.scoredMatches(iters, isAnd, msm, filter)
          new GlobalHitIterator(baseIt, docBase, () => predCursor match {
            case c: AutoCloseable => c.close()
            case _ =>
          })
        }
      }
      .toDF()
  }

  /** FULL exact-phrase match set over the family (global ids, BM25
    * phrase-freq scores at the GLOBAL avgdl) — the family dual of the
    * single-index phrase export.
    */
  def exportPhrase(
      phraseTerms: Seq[String],
      attrFilter: AttrPred = null
  ): DataFrame = {
    val distinctTerms = phraseTerms.distinct
    val offsets: Array[Array[Int]] = distinctTerms.map { t =>
      phraseTerms.zipWithIndex.collect { case (pt, i) if pt == t => i }.toArray
    }.toArray
    val dfs = dfOf(distinctTerms)
    if (distinctTerms.exists(t => !dfs.contains(t)))
      return spark.emptyDataset[Search.QueryHit].toDF()
    val idfSum = phraseTerms.map(t => NaiveBm25.idf(nDocs, dfs(t))).sum
    val bCtx = spark.sparkContext.broadcast((distinctTerms.toArray, offsets, idfSum))
    val bBases = spark.sparkContext.broadcast(bases.toArray)
    val bTombs = spark.sparkContext.broadcast(
      segmentDirs.map(graft.index.Tombstones.handle).toArray)
    val bDirs = spark.sparkContext.broadcast(segmentDirs.toArray)
    val avg = avgDl
    val pred = attrFilter
    segBlocks(distinctTerms)
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key, rows) =>
        val (seg, slice) = key
        val (qTerms, offs, idfS) = bCtx.value
        val byTerm = rows.toArray.groupBy(_._3)
        if (!qTerms.forall(byTerm.contains)) Iterator.empty
        else {
          def refsOf(t: String) = byTerm(t).sortBy(r => (r._5, r._4))
            .map(r => BlockRef(r._5, r._6, r._7, r._8, r._9, r._10, r._11, 0.0))
          val iters = qTerms.map(t => new PostingIter(0, 0.0, refsOf(t), avg))
          var filter: DocFilter =
            if (pred == null) null else AttrSidecar.openCursor(bDirs.value(seg), slice, pred)
          val cur = filter
          val tomb = bTombs.value(seg)
          if (tomb != null) filter = tomb.compose(slice, filter)
          val docBase = bBases.value(seg)
          val out = BlockMaxWand.phraseMatches(iters, offs, filter)
            .map { case (id, freq, dl) =>
              Search.QueryHit(docBase + id, idfS * IndexBuilder.impact(freq, dl, avg))
            }
          cur match { case c: AutoCloseable => c.close(); case _ => }
          out
        }
      }
      .toDF()
  }

  /** Global doc ids admitted by a pure filter, score 0 — per-segment
    * sidecar enumeration (tombstones composed), base-offset to global.
    */
  def filterDocIds(pred: AttrPred): DataFrame = {
    val slicesOf = segmentDirs.map(d => IndexBuilder.readMeta(d).nSlices)
    val tasks = segmentDirs.indices.flatMap(s => (0 until slicesOf(s)).map(sl => (s, sl)))
    val bBases = spark.sparkContext.broadcast(bases.toArray)
    val bTombs = spark.sparkContext.broadcast(
      segmentDirs.map(graft.index.Tombstones.handle).toArray)
    val bDirs = spark.sparkContext.broadcast(segmentDirs.toArray)
    spark.createDataset(tasks).repartition(math.min(tasks.size, 32))
      .flatMap { case (seg, slice) =>
        val cursor = AttrSidecar.openCursor(bDirs.value(seg), slice, pred)
        val tomb = bTombs.value(seg)
        val f: DocFilter = if (tomb == null) cursor else tomb.compose(slice, cursor)
        val docBase = bBases.value(seg)
        // streamed, never buffered (broad filters admit most of a slice)
        Filters.enumerate(f, 0L, () => cursor.close())
          .map(id => Search.QueryHit(docBase + id, 0.0))
      }
      .toDF()
  }
}
