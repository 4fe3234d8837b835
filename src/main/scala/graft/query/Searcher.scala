package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query session over one index: every method runs on a one-segment
  * [[MultiSearcher]] view built per call, so answers, scores and skips are
  * the view's (stored avgdl and `max_impact`, doc-id base 0), and nothing
  * is remembered between calls — each call resolves its terms' dfs in one
  * dictionary job.
  *
  * `cachePostings` (default OFF): opt-in Spark cache of the index's
  * postings and terms tables for serving tiers whose index fits the
  * cluster's storage memory — worth it when the same index answers many
  * batches (the bench's shape). Spark's cache manager substitutes the
  * cached tables into every later read of the same paths, the views'
  * included. It is NOT the default because the first query against a
  * 100-TB index would churn the entire cache through the LRU for no
  * benefit; uncached, repeated reads still hit the OS page cache and
  * parquet row-group skipping serves only the matched terms' blocks.
  *
  * [[topKBatch]] answers a whole query SET in one Spark job (the view's
  * batch walk): the only shuffle moves the matched posting blocks of all
  * queries' terms, grouped by doc-range slice; each slice task runs
  * block-max WAND per query. Per-query cost amortizes to ~zero — this is
  * the throughput path the north rule's "query set" is measured on.
  * [[topKLocal]] is the driver-local execution for interactive queries.
  */
final class Searcher(
    spark: SparkSession, indexDir: String, cachePostings: Boolean = false,
    // per-slice-task memory cap on MATERIALIZED filter allow-lists, in ids
    // (8 B each) per distinct predicate: selective predicates share one
    // decoded array across the batch's queries; a predicate broader than
    // the cap falls back to per-query STREAMING sidecar cursors (O(1)
    // memory, one extra file decode per query) — task memory stays bounded
    // at any selectivity × any number of distinct predicates
    attrAllowListCap: Int = MultiSearcher.AllowListCap) {

  if (cachePostings) MultiSearcher.cacheTables(spark, indexDir)

  private def view = new MultiSearcher(spark, Seq(indexDir))

  def dfOf(queryTerms: Seq[String]): Map[String, Long] = view.dfOf(queryTerms)

  /** All queries in one job → (qid, doc_id, score, rank). Per-query
    * filter context composes here too (`BatchQuery.attr`): each slice
    * task materializes the allow-list of every DISTINCT predicate once
    * from its slice sidecar (one streaming pass per predicate — shared
    * across the queries that carry it), then each query gets its own
    * cursor over the shared array. No doc-id exchange, same as the ad-hoc
    * sidecar path.
    */
  def topKBatch(queries: Seq[Searcher.BatchQuery], k: Int): DataFrame =
    view.batchTopK(queries, k, attrAllowListCap)

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
  ): Seq[(Long, Double)] =
    view.topKLocal(queryTerms, mode, k, maxBlocks, mustNot, minShouldMatch, attr)

  def topK(queryTerms: Seq[String], mode: String, k: Int,
      mustNot: Seq[String] = Nil, minShouldMatch: Int = 1,
      attr: graft.index.AttrPred = null): DataFrame =
    view.topK(queryTerms, mode, k, attrFilter = attr, mustNot = mustNot, minShouldMatch = minShouldMatch)
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
