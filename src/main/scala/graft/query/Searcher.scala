package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.index.IndexBuilder
import graft.query.BlockMaxWand.{BlockRef, PostingIter}

/** Reusable query-session over one index: corpus stats and the term
  * dictionary are loaded once.
  *
  * `cachePostings` (default OFF): opt-in Spark cache of the posting table
  * for serving tiers whose index fits the cluster's storage memory —
  * worth it when the same index answers many batches (the bench's shape).
  * It is NOT the default because the first query against a 100-TB index
  * would churn the entire cache through the LRU for no benefit; uncached,
  * repeated reads still hit the OS page cache and parquet row-group
  * skipping serves only the matched terms' blocks.
  *
  * [[topKBatch]] answers a whole query SET in one Spark job: the only
  * shuffle moves the matched posting blocks of all queries' terms, grouped
  * by doc-range slice; each slice task runs block-max WAND per query.
  * Per-query cost amortizes to ~zero — this is the throughput path the
  * north rule's "query set" is measured on. [[Search.topK]] remains the
  * single-ad-hoc-query path.
  */
final class Searcher(
    spark: SparkSession, indexDir: String, cachePostings: Boolean = false,
    // per-slice-task memory cap on MATERIALIZED filter allow-lists, in ids
    // (8 B each) per distinct predicate: selective predicates share one
    // decoded array across the batch's queries; a predicate broader than
    // the cap falls back to per-query STREAMING sidecar cursors (O(1)
    // memory, one extra file decode per query) — task memory stays bounded
    // at any selectivity × any number of distinct predicates
    attrAllowListCap: Int = 1 << 20) {
  import spark.implicits._

  val stats = IndexBuilder.readStats(spark, indexDir)
  private val avgDl = if (stats.avg_dl > 0) stats.avg_dl else 1.0
  private val n = stats.n_docs

  private val postings: DataFrame = {
    val p = IndexBuilder.readPostings(spark, indexDir)
      .select(
        $"slice", $"term", $"block_id", $"doc_id_min", $"doc_id_max",
        $"count", $"deltas", $"tfs", $"dls", $"poss", $"max_impact"
      )
    if (cachePostings) p.cache() else p
  }

  /** Term dictionary is kept as a cached DF; lookups are distributed
    * filters (a driver-side hash map would not hold 10^12-scale vocab).
    */
  private val terms: Dataset[graft.TermStat] = {
    val t = IndexBuilder.readTerms(spark, indexDir)
    if (cachePostings) t.cache() else t
  }

  def dfOf(queryTerms: Seq[String]): Map[String, Long] =
    terms.where($"term".isin(queryTerms.distinct: _*))
      .collect().map(t => t.term -> t.doc_freq).toMap // ≤ |queryTerms| rows

  /** All queries in one job → (qid, doc_id, score, rank). Per-query
    * filter context composes here too (`BatchQuery.attr`): each slice
    * task materializes the allow-list of every DISTINCT predicate once
    * from its slice sidecar (one streaming pass per predicate — shared
    * across the queries that carry it), then each query gets its own
    * cursor over the shared array. No doc-id exchange, same as the ad-hoc
    * sidecar path.
    */
  def topKBatch(queries: Seq[Searcher.BatchQuery], k: Int): DataFrame =
    batchWalk(queries, k, dfOf(queries.flatMap(q => q.terms ++ q.mustNot)))

  /** [[topKBatch]] over already-resolved dfs of every query and must_not
    * term, so a caller that resolved them runs no second dictionary job.
    */
  private def batchWalk(queries: Seq[Searcher.BatchQuery], k: Int,
                        dfs: Map[String, Long]): DataFrame = {
    val allTerms = queries.flatMap(q => q.terms ++ q.mustNot).distinct
    // per-query resolved plan: (terms in fixed order, idfs, isAnd, attr,
    // must_not terms)
    val resolved = queries.map { q =>
      val ts = q.terms.distinct
      val idfs = ts.map(t => NaiveBm25.idf(n, dfs.getOrElse(t, 0L))).toArray
      (q.qid, ts.toArray, idfs, q.mode == "and", q.attr, q.mustNot.distinct.toArray, q.minShouldMatch)
    }
    val bQueries = spark.sparkContext.broadcast(resolved)
    val idxDir = indexDir
    val tomb = graft.index.Tombstones.handle(indexDir)
    val presentTerms = allTerms.filter(dfs.contains)
    if (presentTerms.isEmpty)
      return spark.emptyDataset[(Long, Long, Double)].toDF("qid", "doc_id", "score")
        .withColumn("rank", lit(1L)).where(lit(false))

    // locals only — the task closure must not capture `this` (it holds the
    // SparkSession and cached DataFrames, none serializable)
    val avg = avgDl
    val cap = attrAllowListCap
    val localTopK = postings
      .where($"term".isin(presentTerms: _*))
      .as[(Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (slice, rows) =>
        val byTerm = rows.toArray.groupBy(_._2).map { case (t, rs) =>
          t -> rs.sortBy(r => (r._4, r._3))
            .map(r => BlockRef(r._4, r._5, r._6, r._7, r._8, r._9, r._10, r._11))
        }
        // distinct predicates resolved once per slice task — materialized
        // only while ≤ cap matches (null marker = too broad: those preds
        // get a fresh streaming cursor per query instead, so task memory
        // never scales with selectivity × distinct predicates)
        val allowLists = scala.collection.mutable.HashMap.empty[graft.index.AttrPred, Array[Long]]
        def allowOf(p: graft.index.AttrPred): Array[Long] =
          allowLists.getOrElseUpdate(
            p, graft.index.AttrSidecar.matchingDocIdsCapped(idxDir, slice, p, cap))
        // slice tombstones read once, shared read-only across queries
        // (each query wraps them in its own cursor)
        val tombIds: Array[Long] =
          if (tomb == null) Array.emptyLongArray
          else graft.index.Tombstones.readSlice(idxDir, tomb.gen, slice)
        bQueries.value.iterator.flatMap { case (qid, qTerms, idfs, isAnd, attr, exT, msm) =>
          val iters = qTerms.iterator.zipWithIndex.flatMap { case (t, ti) =>
            byTerm.get(t).map(refs => new PostingIter(ti, idfs(ti), refs, avg))
          }.toArray
          var streaming: AutoCloseable = null
          var filter: DocFilter =
            if (attr == null) null
            else allowOf(attr) match {
              case null =>
                val cur = graft.index.AttrSidecar.openCursor(idxDir, slice, attr)
                streaming = cur
                cur
              case arr => new BlockMaxWand.FilterIter(arr)
            }
          val exIters = exT.iterator.flatMap(t =>
            byTerm.get(t).map(refs => new PostingIter(0, 0.0, refs, avg))).toArray
          if (exIters.nonEmpty)
            filter = Filters.and(filter, new NotFilter(new PostingSet(exIters)))
          if (tombIds.nonEmpty)
            filter = Filters.and(filter, new NotFilter(new SortedIdsSet(tombIds)))
          val hits =
            try {
              if (isAnd) {
                if (iters.length < qTerms.length) Array.empty[BlockMaxWand.Hit]
                else BlockMaxWand.and(iters, k, filter)
              } else BlockMaxWand.or(iters, k, filter, msm)
            } finally if (streaming != null) streaming.close() // WAND is eager
          hits.iterator.map(h => (qid, h.docId, h.score))
        }
      }
      .toDF("qid", "doc_id", "score")

    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"doc_id".asc)
    localTopK
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= k)
  }

  /** Driver-local serving path for ad-hoc queries: when the matched
    * posting blocks are small enough (rare/medium terms — the common
    * interactive case), collect them once and run WAND on the driver —
    * ~10-50 ms instead of a full Spark job round trip. Falls back to the
    * distributed path when the blocks exceed `maxBlocks` (hot terms at
    * 10^12-doc scale must never be collected). Results are identical:
    * same blocks, same WAND, same tie-break.
    */
  def topKLocal(
      queryTerms: Seq[String], mode: String, k: Int, maxBlocks: Int = 4096,
      mustNot: Seq[String] = Nil, minShouldMatch: Int = 1,
      attr: graft.index.AttrPred = null // filter context: the driver opens
      // the slice sidecar cursors itself (same FS API the tasks use)
  ): Seq[(Long, Double)] = {
    val terms = queryTerms.distinct
    val dfs = dfOf((terms ++ mustNot).distinct)
    if (terms.isEmpty || (mode == "and" && terms.exists(t => !dfs.contains(t))))
      return Nil
    val present = terms.filter(dfs.contains)
    if (present.isEmpty) return Nil
    val exTerms = mustNot.distinct.filter(dfs.contains)
    val rows = postings
      .where($"term".isin(present ++ exTerms: _*))
      .select(
        $"slice", $"term", $"block_id", $"doc_id_min", $"doc_id_max",
        $"count", $"deltas", $"tfs", $"dls", $"poss", $"max_impact"
      )
      // cardinality GATE, not a selection: if more than maxBlocks rows
      // exist, which maxBlocks+1 arrive is nondeterministic — and
      // irrelevant, because rows.length > maxBlocks then discards them
      // all and falls back to the distributed path. The local path only
      // ever scores a COMPLETE block set.
      .limit(maxBlocks + 1)
      .as[(Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Double)]
      .collect() // ≤ maxBlocks + 1 rows
    if (rows.length > maxBlocks) {
      // hot query — stay distributed, on the dfs already resolved
      return ranked(queryTerms, mode, k, mustNot, minShouldMatch, attr, dfs)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq // ≤ k rows
    }
    val tomb = graft.index.Tombstones.handle(indexDir)
    val idfs = terms.map(t => NaiveBm25.idf(n, dfs.getOrElse(t, 0L))).toArray
    val hits = rows.groupBy(_._1).iterator.flatMap { case (slice, sliceRows) =>
      val byTerm = sliceRows.groupBy(_._2)
      def refsOf(rs: Array[(Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Double)]) =
        rs.sortBy(r => (r._4, r._3))
          .map(r => BlockRef(r._4, r._5, r._6, r._7, r._8, r._9, r._10, r._11))
      val iters = terms.iterator.zipWithIndex.flatMap { case (t, ti) =>
        byTerm.get(t).map(rs => new PostingIter(ti, idfs(ti), refsOf(rs), avgDl))
      }.toArray
      val exIters = exTerms.iterator.flatMap(t =>
        byTerm.get(t).map(rs => new PostingIter(0, 0.0, refsOf(rs), avgDl))).toArray
      var filter: DocFilter = null
      var cursor: AutoCloseable = null
      if (attr != null) {
        val c = graft.index.AttrSidecar.openCursor(indexDir, slice, attr)
        filter = c; cursor = c
      }
      if (exIters.nonEmpty)
        filter = Filters.and(filter, new NotFilter(new PostingSet(exIters)))
      if (tomb != null) filter = tomb.compose(slice, filter)
      try {
        if (mode == "and") {
          if (iters.length < terms.length) Iterator.empty
          else BlockMaxWand.and(iters, k, filter).iterator
        } else BlockMaxWand.or(iters, k, filter, minShouldMatch).iterator
      } finally if (cursor != null) cursor.close() // WAND is eager
    }.toSeq
    hits.sortBy(h => (-h.score, h.docId)).take(k).map(h => (h.docId, h.score))
  }

  def topK(queryTerms: Seq[String], mode: String, k: Int,
      mustNot: Seq[String] = Nil, minShouldMatch: Int = 1,
      attr: graft.index.AttrPred = null): DataFrame = {
    // one dictionary job; AND with a missing term short-circuits to empty
    val dfs = dfOf(queryTerms ++ mustNot)
    if (mode == "and" && queryTerms.distinct.exists(t => !dfs.contains(t)))
      return spark.emptyDataset[(Long, Double)].toDF("doc_id", "score")
    ranked(queryTerms, mode, k, mustNot, minShouldMatch, attr, dfs)
  }

  /** One query through the batch walk, as (doc_id, score) in rank order. */
  private def ranked(queryTerms: Seq[String], mode: String, k: Int, mustNot: Seq[String],
                     minShouldMatch: Int, attr: graft.index.AttrPred,
                     dfs: Map[String, Long]): DataFrame =
    batchWalk(Seq(Searcher.BatchQuery(0L, queryTerms, mode, attr = attr,
      mustNot = mustNot, minShouldMatch = minShouldMatch)), k, dfs)
      .orderBy($"rank")
      .select($"doc_id", $"score")
}

object Searcher {
  /** `attr` (nullable): per-query filter context, evaluated from the
    * slice attribute sidecar inside the batch job (ES bool filter next to
    * the match query — composable per query, not per batch).
    * `mustNot`: per-query excluded terms (ES bool.must_not) — exclusion
    * cursors over the same shuffled blocks, non-scoring.
    * `minShouldMatch` (OR mode): candidates must match ≥ this many
    * distinct query terms.
    */
  final case class BatchQuery(
      qid: Long,
      terms: Seq[String],
      mode: String,
      attr: graft.index.AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  )
}
