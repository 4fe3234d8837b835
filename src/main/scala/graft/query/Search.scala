package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, IndexBuilder, Tombstones}

/** Distributed BM25 over one on-disk index.
  *
  * Every retrieval operator — [[topK]], [[phraseTopK]], the rewrites,
  * [[exportMatches]], [[collapseTopK]], [[disMaxTopK]], [[synonymTopK]],
  * [[phrasePrefixTopK]] and the phrase counts — runs a single index as
  * a one-segment [[MultiSearcher]] view: one implementation serves a
  * single index and a segment family, and on one segment it keeps the
  * index's stored avgdl and per-block `max_impact` bounds. The plan
  * (scale-first — nothing term-sized ever reaches the driver):
  *   1. dictionary lookup: `terms` table filtered to the ≤ few query
  *      terms (parquet predicate pushdown on the term-sorted files) —
  *      yields df per term → idf (collect of ≤ |q| rows per segment,
  *      summed on the driver);
  *   2. posting scan: postings filtered to query terms (pushdown again;
  *      files are sorted by term within partitions so row-group min/max
  *      skips almost everything);
  *   3. shuffle the surviving blocks by (segment, doc-range `slice`) —
  *      all query terms' postings for one doc range land in one task (the
  *      only shuffle, and it moves just the query terms' blocks);
  *   4. per-slice block-max WAND → slice-local top-k (k rows per slice);
  *   5. global top-k = sort (score desc, doc_id asc) + limit over
  *      nSlices·k rows.
  *
  * Slices are disjoint doc ranges, so slice-local top-k union ⊇ global
  * top-k — the merge is exact. An expansion (prefix, fuzzy, wildcard,
  * regexp) reads each candidate's doc_freq with the candidate itself, so
  * it adds one dictionary job and no second lookup.
  *
  * Steps 1 and 2 open `terms` and `postings` with the schemas declared in
  * [[graft.index.IndexBuilder]], so neither pays a schema-inference job
  * (a bare parquet read runs one per table just to read a footer): a
  * term query is three jobs — the dictionary collect, the slice shuffle's
  * map stage and the result. An index stamped below the current format
  * falls back to inference, and reads of the docs `text` column keep it,
  * since merged and purged indexes store no text and must fail such a
  * read loudly instead of returning nulls.
  *
  * [[batchTopK]] is the view's batch walk. [[moreLikeThis]] selects
  * its terms and retrieves on one view, and [[explain]] takes N, avgdl
  * and df from a view; explain's range-pruned, unshuffled decode, the
  * suggesters' dictionary reads and [[hydrate]] stay here.
  */
object Search {

  final case class QueryHit(doc_id: Long, score: Double)

  private def view(spark: SparkSession, indexDir: String): MultiSearcher =
    new MultiSearcher(spark, Seq(indexDir))

  /** BM25 top-k over terms (ES bool query; block-max WAND).
    *
    * Filter context, two renditions (ES semantics for both: scores are
    * corpus-global and unchanged; the filter only gates candidates inside
    * WAND — `ElasticSearchStorage.cs:208-233` provisions keyword + date
    * fields next to the text fields for exactly this):
    *
    *   - `attrFilter` ([[graft.index.AttrPred]], PREFERRED): evaluated by
    *     each WAND task against its own slice's attribute sidecar
    *     (the index's per-slice ES doc-values analog). The
    *     plan is IDENTICAL to an unfiltered search: one exchange of
    *     matched posting blocks; no doc-id ever crosses the network, at
    *     ANY selectivity (PlanSpec asserts the docs table is absent from
    *     the plan).
    *   - `docFilter` (nullable Column over the docs table): the ad-hoc
    *     escape hatch for predicates the sidecar doesn't carry (e.g.
    *     url rlike ...). Matching (slice, doc_id) pairs — 12 bytes each,
    *     column-pruned — co-shuffle with the blocks. Fine for selective
    *     predicates; a 10%-selectivity filter at 10^12 docs would ship
    *     ~10^11 ids, which is why typed predicates get the sidecar.
    *
    * For low-selectivity DATE ranges also consider time-bucketed segments
    * ([[graft.index.TimeBuckets]]): whole-segment pruning first, sidecar
    * as the residual intra-bucket cut.
    *
    * `mustNot`: ES `bool.must_not` terms — docs containing ANY of them
    * are excluded (non-scoring, like filter context). The excluded
    * terms' posting blocks ride the same single exchange as the query
    * terms'; each slice task walks them as a monotone exclusion cursor
    * (block skip + binary search — untouched blocks never decode). A term
    * in BOTH must and must_not excludes its own matches (ES bool
    * semantics).
    *
    * Tombstoned docs ([[graft.index.Tombstones]]) are ALWAYS excluded:
    * the live generation is resolved once driver-side, each slice task
    * reads its own slice's deleted-id file node-locally.
    *
    * `minShouldMatch` (OR mode only): candidates must match ≥ this many
    * distinct query terms — ES bool.should minimum_should_match. Scores
    * are unchanged (still summed over every matched term).
    *
    * `searchAfter` — ES search_after deep pagination: pass the LAST hit
    * of the previous page as (score, doc_id); only hits ranking strictly
    * after it return. Unlike from+size, per-slice heaps stay k-sized at
    * any depth (page 10^5 of a 10^12-doc result set still moves only
    * nSlices·k rows).
    *
    * `boosts`: per-term `^boost` aligned 1:1 with `queryTerms` (ES
    * query_string `term^2.5`); a boost multiplies the term's whole score
    * contribution, so it folds into the term's idf and WAND's block-max
    * bounds scale with it.
    *
    * `msmField`: ES terms_set (OR mode only) — the per-doc required-match
    * count comes from a declared numeric attribute of the doc itself.
    */
  def topK(
      spark: SparkSession,
      indexDir: String,
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
  ): DataFrame =
    view(spark, indexDir).topK(queryTerms, mode, k, docFilter, attrFilter, mustNot,
      minShouldMatch, searchAfter, boosts, msmField)
  /** BATCHED top-k: run MANY bool term queries in ONE job — the offline
    * evaluation / RAG-training-retrieval shape (millions of queries a
    * day against the same index), where per-query jobs would drown in
    * scheduling overhead and re-scan hot postings once per query. The
    * walk is a one-segment view's batch walk ([[MultiSearcher.batchTopK]],
    * also behind [[Searcher.topKBatch]]): one postings scan of the UNION
    * of all queries' terms, one shuffle by slice, every query's WAND per
    * slice task, then a per-qid window cut — exact per-query top-k.
    *
    * `queries`: (qid, terms, mode) — driver-scale (broadcast), thousands
    * to low millions; beyond that, chunk the query set and union.
    * Returns (qid, doc_id, score).
    */
  def batchTopK(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[(Long, Seq[String], String)],
      k: Int
  ): DataFrame = {
    require(queries.nonEmpty, "no queries")
    queries.foreach { case (qid, ts, mode) =>
      require(ts.nonEmpty, s"empty terms for qid $qid")
      require(mode == "and" || mode == "or", s"bad mode '$mode' for qid $qid")
    }
    require(queries.map(_._1).distinct.size == queries.size, "duplicate qids")
    view(spark, indexDir)
      .batchTopK(queries.map { case (qid, ts, mode) => Searcher.BatchQuery(qid, ts, mode) }, k)
      .select("qid", "doc_id", "score")
  }

  /** ES `_explain`: per-term score decomposition for specific docs —
    * the relevance-debugging surface (why did doc d rank where it did?).
    * Returns one row per (doc, matching query term):
    * (doc_id, term, tf, doc_len, doc_freq, contrib) with
    * contrib = idf(df) · impact(tf, dl, avgdl); Σ contrib over a doc's
    * rows = its topK score exactly (same float pipeline). A tombstoned
    * doc, which no query returns, explains to no rows.
    *
    * Scale shape: posting scan pushdown-filtered to the query terms AND
    * the docs' id range (doc_id_min/max block metadata prune to the few
    * touched blocks); decode only blocks overlapping the requested ids.
    */
  def explain(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      docIds: Seq[Long]
  ): DataFrame = {
    import spark.implicits._
    require(docIds.nonEmpty, "explain needs at least one doc id")
    val terms = queryTerms.distinct
    val v = view(spark, indexDir)
    val n = v.nDocs
    val avgDl = v.avgDl
    val bIds = spark.sparkContext.broadcast(docIds.toSet)
    val bDfs = spark.sparkContext.broadcast(v.dfOf(terms))
    val tomb = Tombstones.handle(indexDir)
    val lo = docIds.min
    val hi = docIds.max
    IndexBuilder.readPostings(spark, indexDir)
      .where($"term".isin(terms: _*) && $"doc_id_max" >= lo && $"doc_id_min" <= hi)
      .select($"slice", $"term", $"count", $"doc_id_min", $"deltas", $"tfs", $"dls")
      .as[(Int, String, Int, Long, Array[Byte], Array[Byte], Array[Byte])]
      .mapPartitions { rows =>
        // a tombstoned doc matches no query, so it explains to nothing;
        // each slice's deleted ids are read once per task
        val deleted = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
        def live(slice: Int, id: Long): Boolean = tomb == null ||
          java.util.Arrays.binarySearch(
            deleted.getOrElseUpdate(slice, Tombstones.readSlice(tomb.indexDir, tomb.gen, slice)), id) < 0
        rows.flatMap { case (slice, term, cnt, idMin, deltas, tfs, dls) =>
          val wanted = bIds.value
          val ids = graft.functions.Codec.decodeGapsFromBase(idMin, deltas, cnt)
          lazy val tf = graft.functions.Codec.decodeIntsAuto(tfs, cnt)
          lazy val dl = graft.functions.Codec.decodeIntsAuto(dls, cnt)
          Iterator.range(0, cnt).filter(i => wanted.contains(ids(i)) && live(slice, ids(i))).map { i =>
            val df = bDfs.value(term)
            val contrib = NaiveBm25.idf(n, df) * IndexBuilder.impact(tf(i), dl(i), avgDl)
            (ids(i), term, tf(i).toLong, dl(i).toLong, df, contrib)
          }
        }
      }
      .toDF("doc_id", "term", "tf", "doc_len", "doc_freq", "contrib")
  }

  /** ES prefix query (`{"prefix": {"text": "..."}}`): expand the prefix
    * against the term dictionary — a RANGE read of the term-sorted
    * parquet (StringStartsWith pushes to the scan; at 10^12-doc vocab
    * only the prefix's row groups open) — capped at `maxExpansions` by
    * descending df then term (ES's top_terms rewrite), then the standard
    * OR WAND over the expansions. Scoring keeps per-expansion idf (ES
    * scoring_boolean rewrite — the stronger contract vs constant_score).
    * The whole bool vocabulary (filter context, mustNot, msm) composes,
    * because the rewrite IS a bool query.
    */
  def prefixTopK(
      spark: SparkSession,
      indexDir: String,
      prefix: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    view(spark, indexDir).prefixTopK(prefix, k, maxExpansions, docFilter, attrFilter, mustNot)

  /** ES fuzzy query (`{"fuzzy": {"text": "..."}}`): expand to dictionary
    * terms within `maxEdits` Levenshtein distance, capped at
    * `maxExpansions` by (df desc, term) — ES's fuzzy rewrite — then the
    * standard OR WAND with per-expansion idf. The expansion is a
    * DISTRIBUTED filter over the terms table using the codegen'd
    * `levenshtein` expression with a length pre-cut (|len−|q|| ≤
    * maxEdits): the terms table is orders of magnitude smaller than the
    * postings (ES walks an FST automaton per shard; our dictionary scan
    * is the column-pruned batch analog and parallelizes with the
    * cluster).
    */
  def fuzzyTopK(
      spark: SparkSession,
      indexDir: String,
      term: String,
      k: Int,
      maxEdits: Int = 1,
      maxExpansions: Int = 64,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    view(spark, indexDir).fuzzyTopK(term, k, maxEdits, maxExpansions, docFilter, attrFilter, mustNot)

  /** ES field collapsing (`collapse: {field: …}`): top-k hits with at
    * most ONE hit per value of a declared keyword attr — the "one event
    * per server" view. Exact (unlike a post-filtered top-k, which can
    * starve a group whose best hit ranks below k): each slice scores its
    * FULL match set ([[BlockMaxWand.scoredMatches]] — collapse semantics
    * need every group's best, which can rank anywhere) and keeps one
    * best (score desc, docId asc) hit per value — per-task memory ∝
    * distinct values, capped at `valueCap` (the bounded-cardinality
    * keyword contract), network = nSlices × |values| rows, independent
    * of match count. Scores are unchanged BM25 (corpus-global); filter
    * context / must_not / tombstones / msm compose as everywhere.
    */
  def collapseTopK(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      valueCap: Int = 1 << 20
  ): DataFrame = {
    require(docFilter == null, "collapse uses typed filter context (attrFilter)")
    view(spark, indexDir).collapseTopK(queryTerms, mode, kwField, k, attrFilter, mustNot,
      minShouldMatch, valueCap)
  }

  /** `*`/`?` wildcard → (anchored Java regex, literal-prefix pre-cut) —
    * shared by the wildcard rewrites of every searcher.
    */
  private[query] def wildcardToRegex(pattern: String): (String, String) = {
    require(pattern.nonEmpty, "empty wildcard pattern")
    val sb = new StringBuilder
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c   => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    (sb.toString(), pattern.takeWhile(c => c != '*' && c != '?'))
  }

  /** ES wildcard query (`{"wildcard": {"text": "s?a*"}}`): `*` = any run,
    * `?` = one char, anything else literal. Compiles to an anchored regex
    * ([[wildcardToRegex]]) and rides [[regexpTopK]]'s dictionary
    * expansion; a literal prefix before the first wildcard becomes a
    * parquet `StringStartsWith` pre-cut so the dictionary scan stays a
    * range read (a LEADING wildcard scans the full terms table — orders
    * smaller than postings, but worth knowing, exactly as in ES).
    */
  def wildcardTopK(
      spark: SparkSession,
      indexDir: String,
      pattern: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    view(spark, indexDir).wildcardTopK(pattern, k, maxExpansions, docFilter, attrFilter, mustNot)

  /** ES regexp query: expand the ANCHORED regex (Java syntax) against the
    * term dictionary — a distributed column-pruned scan with the codegen
    * `rlike` expression, `prefixHint` as a pushdown range pre-cut — then
    * the standard OR WAND over the ≤ `maxExpansions` rewrites (df-desc
    * cap, per-expansion idf: scoring_boolean, the same contract as
    * prefix/fuzzy). The whole bool vocabulary composes because the
    * rewrite IS a bool query.
    */
  def regexpTopK(
      spark: SparkSession,
      indexDir: String,
      regex: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      prefixHint: String = ""
  ): DataFrame =
    view(spark, indexDir).regexpTopK(regex, k, maxExpansions, docFilter, attrFilter, mustNot,
      prefixHint)
  /** ES term suggester ("did you mean") — the SEARCH-AS-YOU-TYPE side of
    * the reference's Kibana surface: candidate corrections for a (likely
    * misspelled) term from the term dictionary within `maxEdits`
    * Levenshtein, ranked by document frequency (ES `suggest_mode:
    * popular` ordering), the input term itself excluded. Pure dictionary
    * read: the codegen `levenshtein` scan with the length pre-cut is the
    * same pushdown shape as the fuzzy rewrite — postings are never
    * touched. Returns (suggestion, doc_freq), df desc then term asc.
    */
  def suggest(
      spark: SparkSession,
      indexDir: String,
      term: String,
      size: Int = 5,
      maxEdits: Int = 1
  ): DataFrame = {
    import spark.implicits._
    require(term.nonEmpty, "empty term")
    require(maxEdits >= 1 && maxEdits <= 2, "ES caps suggester fuzziness at 2 edits")
    IndexBuilder.readTerms(spark, indexDir)
      .where(abs(length($"term") - lit(term.length)) <= maxEdits)
      .where($"term" =!= term)
      .where(levenshtein($"term", lit(term)) <= maxEdits)
      .orderBy(desc("doc_freq"), asc("term"))
      .limit(size)
      .select($"term".as("suggestion"), $"doc_freq")
  }

  /** ES `more_like_this` ("find documents like this one"): selects the
    * source doc's most characteristic terms by tf·idf (ES's MLT term
    * selection — tf from the doc, idf corpus-global, top
    * `maxQueryTerms`, ties by term asc for determinism; `minTermFreq` /
    * `minDocFreq` prune noise terms), then runs them as a bool-should
    * BM25 query, the source doc itself excluded (k+1 fetch, filter,
    * cut — no allow-list materialization for a single exclusion).
    * Scale shape: the doc fetch is a pushdown point-read on the docs
    * store; term selection touches ≤ |doc's distinct terms| dictionary
    * rows; retrieval is the plain WAND path.
    */
  def moreLikeThis(
      spark: SparkSession,
      indexDir: String,
      docId: Long,
      k: Int = 10,
      maxQueryTerms: Int = 25,
      minTermFreq: Int = 1,
      minDocFreq: Int = 1,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    import spark.implicits._
    require(maxQueryTerms > 0, "maxQueryTerms must be positive")
    val srcRows = IndexBuilder.readDocsTable(spark, indexDir, withText = true)
      .where($"doc_id" === docId) // pushdown: row-group skip on doc_id
      .select($"text").collect() // ≤ 1 row: doc_id is unique
    require(srcRows.nonEmpty, s"more_like_this: doc $docId not found")
    val tf: Map[String, Int] = graft.functions.Analyzer.tokenize(srcRows.head.getString(0))
      .groupBy(identity).map { case (t, occ) => t -> occ.size }
    val cand = tf.filter(_._2 >= minTermFreq).keys.toSeq.sorted
    if (cand.isEmpty) return spark.emptyDataset[QueryHit].toDF()
    // one view: the retrieval's df lookup is answered by the memo this
    // selection filled
    val v = view(spark, indexDir)
    val dfs = v.dfOf(cand)
    val selected = cand
      .filter(t => dfs.getOrElse(t, 0L) >= minDocFreq)
      .map(t => (t, tf(t) * NaiveBm25.idf(v.nDocs, dfs(t))))
      .sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms)
      .map(_._1)
    if (selected.isEmpty) return spark.emptyDataset[QueryHit].toDF()
    v.topK(selected, "or", k + 1, attrFilter = attrFilter, mustNot = mustNot)
      .where($"doc_id" =!= docId)
      .limit(k)
  }

  /** ES "fetch phase": join top-k hits back to their stored doc fields
    * (url, warc_ts, lang, doc_len — never `text` unless asked: the docs
    * scan is column-pruned). Hits are ≤ k rows → broadcast side of the
    * join; the docs scan is pushdown-filtered by the id set, so at
    * 10^12 docs this opens only the row groups containing the k ids.
    */
  def hydrate(
      spark: SparkSession,
      indexDir: String,
      hits: DataFrame,
      withText: Boolean = false
  ): DataFrame = {
    import spark.implicits._
    val ids = hits.select($"doc_id").as[Long].collect() // ≤ k by contract
    val cols =
      if (withText) Seq($"doc_id", $"url", $"warc_ts", $"lang", $"doc_len", $"text")
      else Seq($"doc_id", $"url", $"warc_ts", $"lang", $"doc_len")
    val docs = IndexBuilder.readDocsTable(spark, indexDir, withText)
      .where($"doc_id".isin(ids: _*)) // pushdown: row-group skip on doc_id
      .select(cols: _*)
    hits.join(broadcast(docs), Seq("doc_id"), "left")
  }

  /** Exact-phrase top-k (ES `match_phrase`); see BlockMaxWand.phrase for
    * the scoring contract, and BlockMaxWand.phraseSlop for `slop` > 0
    * (total position displacement). Same scale shape as topK: pushdown on
    * the ≤ few distinct terms, one shuffle of matched blocks (+ filter
    * ids) by slice, per-slice leapfrog+positional verify, nSlices·k
    * global merge. idf is summed over every phrase POSITION (duplicate
    * terms count per occurrence — Lucene PhraseQuery shape).
    */
  def phraseTopK(
      spark: SparkSession,
      indexDir: String,
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      slop: Int = 0
  ): DataFrame =
    view(spark, indexDir).phraseTopK(phraseTerms, k, docFilter, attrFilter, mustNot, slop)
  /** Corpus-wide exact-phrase occurrence count (Σ over docs of the
    * per-doc phrase freq) — the bigram-count primitive under
    * [[phraseSuggest]]'s language model. Same block machinery as
    * [[phraseTopK]] (pushdown to the phrase terms' blocks, per-slice
    * positional verify), but the reduction is ONE long per slice.
    * Tombstoned docs are excluded (their occurrences must not steer the
    * LM toward deleted text).
    */
  def phraseCount(
      spark: SparkSession,
      indexDir: String,
      phraseTerms: Seq[String]
  ): Long =
    view(spark, indexDir).phraseCounts(Seq(phraseTerms)).head

  /** Batched [[phraseCount]] for a SET of bigrams in ONE job: one scan
    * over the union of all pair terms' blocks, one per-slice task that
    * runs every pair's positional walk (cursors fresh per pair; a
    * duplicate-term bigram (a a) walks one cursor at both offsets).
    * Replaces the one-driver-job-per-bigram loop the phrase suggester
    * used to run — O(candidates) sequential jobs became one (r6 opt
    * round; guide §2.6).
    */
  def phraseCountBatch(
      spark: SparkSession,
      indexDir: String,
      pairs: Seq[(String, String)]
  ): Map[(String, String), Long] = {
    val ps = pairs.distinct
    ps.zip(view(spark, indexDir).phraseCounts(ps.map { case (a, b) => Seq(a, b) })).toMap
  }

  /** ES `phrase` suggester ("did you mean") over the index's own
    * statistics: per-position candidate terms come from the dictionary
    * (edit distance ≤ `maxEdits`, top `perTermCandidates` by df — the
    * term suggester's rewrite), candidate PHRASES differ from the input
    * in at most ONE position (ES's default max_errors=1), and each
    * candidate is scored by a bigram language model with stupid backoff
    * (ES's default smoothing):
    *
    *   score = ln P(t₁) + Σⱼ ln P(tⱼ₊₁ | tⱼ)
    *   P(t)      = ttf(t) / T
    *   P(b | a)  = count(a b) / ttf(a)      when the bigram occurs,
    *             = backoff · ttf(b) / T      otherwise
    *
    * Bigram counts are positional [[phraseCount]] walks over ONLY the
    * candidate pairs' postings — no corpus scan, no forward index; the
    * combination space is |positions|·perTermCandidates phrases, never
    * a cross product. Returns (suggestion, score_e6) top `size`, the
    * input itself excluded.
    */
  def phraseSuggest(
      spark: SparkSession,
      indexDir: String,
      phraseTerms: Seq[String],
      size: Int = 3,
      perTermCandidates: Int = 3,
      maxEdits: Int = 1,
      backoff: Double = 0.4
  ): DataFrame = {
    import spark.implicits._
    require(phraseTerms.size >= 2, "phrase suggester needs ≥ 2 tokens")
    require(maxEdits >= 1 && maxEdits <= 2, "ES caps suggester fuzziness at 2 edits")
    val stats = IndexBuilder.readStats(spark, indexDir)
    val bigT = stats.total_tokens.toDouble
    // one dictionary pass: per-position edit-distance candidates (df-desc
    // top-N each) + the input terms' own stats
    val dict = IndexBuilder.readTerms(spark, indexDir)
    val ttfOf = scala.collection.mutable.HashMap.empty[String, Long]
    // ONE dictionary job: the input terms' stats (pos = -1) and every
    // position's edit-distance candidates ride one unioned plan — the
    // per-position loop ran a separate full-dictionary scan job per
    // phrase position (r6 opt round; guide §2.6: batch driver-sequenced
    // lookups into one job)
    val inputBranch = dict
      .where($"term".isin(phraseTerms.distinct: _*))
      .select(lit(-1).as("pos"), $"term", $"doc_freq", $"total_tf")
    val candBranches = phraseTerms.zipWithIndex.map { case (q, i) =>
      dict
        .where(abs(length($"term") - lit(q.length)) <= maxEdits)
        .where($"term" =!= q)
        .where(levenshtein($"term", lit(q)) <= maxEdits)
        .orderBy(desc("doc_freq"), asc("term"))
        .limit(perTermCandidates)
        .select(lit(i).as("pos"), $"term", $"doc_freq", $"total_tf")
    }
    // ≤ |phrase| × (1 + perTermCandidates) rows
    val allRows = candBranches.foldLeft(inputBranch)(_ unionByName _).collect()
    allRows.foreach(r => ttfOf(r.getString(1)) = r.getLong(3))
    val candsAt: Seq[Seq[String]] = phraseTerms.indices.map { i =>
      allRows.filter(_.getInt(0) == i)
        .sortBy(r => (-r.getLong(2), r.getString(1)))
        .map(_.getString(1)).toSeq
    }
    // candidate phrases: input + single-position substitutions, every
    // term must exist in the corpus (ttf > 0) to be LM-scorable
    val subs = phraseTerms.indices.flatMap { i =>
      candsAt(i).map(c => phraseTerms.updated(i, c))
    }
    val phrases = (phraseTerms +: subs).distinct
      .filter(p => p.forall(t => ttfOf.getOrElse(t, 0L) > 0L))
    if (phrases.isEmpty)
      return spark.emptyDataset[(String, Long)].toDF("suggestion", "score_e6")
    val bigrams = phrases.flatMap(_.sliding(2).map(w => (w(0), w(1)))).distinct
    val bcount: Map[(String, String), Long] = phraseCountBatch(spark, indexDir, bigrams)
    def lp(t: String): Double = math.log(ttfOf(t).toDouble / bigT)
    def lpb(a: String, b: String): Double = {
      val c = bcount((a, b))
      if (c > 0) math.log(c.toDouble / ttfOf(a).toDouble)
      else math.log(backoff * ttfOf(b).toDouble / bigT)
    }
    val scored = phrases
      .filter(_ != phraseTerms) // ES returns corrections, not the input
      .map { p =>
        val s = p.sliding(2).foldLeft(lp(p.head)) { case (acc, w) => acc + lpb(w(0), w(1)) }
        (p.mkString(" "), math.round(s * 1e6))
      }
      .sortBy { case (sug, s) => (-s, sug) }
      .take(size)
    scored.toDF("suggestion", "score_e6")
  }

  /** ES `match_phrase_prefix`: a phrase whose LAST term is a prefix —
    * the search-as-you-type query. Lucene rewrites it to a
    * MultiPhraseQuery over the first `maxExpansions` dictionary terms in
    * TERM ORDER (alphabetical — not df order like `prefix`'s rewrite);
    * we run one [[phraseTopK]] per expansion and keep each doc's BEST
    * expansion score (the deterministic, oracle-exact reading of ES's
    * blended multi-phrase scoring). Expansion count is capped, every
    * per-expansion walk is block-max gated, and the merge is a k-row
    * union per expansion — the non-last terms' postings are re-walked
    * per expansion, the documented cost of composing instead of teaching
    * WAND multi-term positions.
    */
  def phrasePrefixTopK(
      spark: SparkSession,
      indexDir: String,
      phraseTerms: Seq[String],
      k: Int,
      maxExpansions: Int = 8,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    view(spark, indexDir).phrasePrefixTopK(phraseTerms, k, maxExpansions, docFilter, attrFilter,
      mustNot)

  /** ES `dis_max` over term queries: score = best sub-score +
    * tieBreaker · (sum of the others) — "take the best field/term, don't
    * reward redundancy" (tieBreaker 0 = pure max; 1 ≡ bool.should sum).
    * Candidates = docs matching ANY term. Document-at-a-time walk with
    * per-slice k-heaps (like [[synonymTopK]]: a max-combiner has no
    * per-term additive bound, so no block-max gate; decode stays
    * on-demand); filter context / must_not / tombstones compose.
    */
  def disMaxTopK(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      k: Int,
      tieBreaker: Double = 0.0,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    view(spark, indexDir).disMaxTopK(queryTerms, k, tieBreaker, attrFilter, mustNot)

  /** ES scroll / point-in-time EXPORT: the query's FULL match set as a
    * distributed DataFrame (doc_id, score) — no top-k, no driver
    * materialization; the 10^9-row result of a selective query at
    * 10^12 docs streams straight to the caller's sink (the
    * feed-the-training-pipeline read ES serves with scroll batches).
    * Per-slice [[BlockMaxWand.scoredMatches]] walk (scores exact BM25,
    * block-decode-on-demand), streamed, never buffered; output stays
    * partitioned by slice until the caller repartitions/writes.
    * filter/must_not/tombstones/msm compose as everywhere. A composed
    * caller (the query_string tree) resolves its terms' dfs once through
    * the view's memo ([[MultiSearcher.dfOf]]) instead of once per leaf.
    */
  def exportMatches(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    view(spark, indexDir).exportMatches(queryTerms, mode, attrFilter, mustNot, minShouldMatch)
  /** Query-time synonyms (ES `synonym_graph` at search time): each query
    * position is a GROUP of interchangeable terms, scored as ONE term —
    * Lucene SynonymQuery: tf = Σ member tfs in the doc, df = MAX member
    * df (not the union size — members co-occur), one idf·impact per
    * group. This is NOT OR-expansion (which would double-count a doc
    * containing two spellings and inflate idf of rare variants).
    *
    * Walk: document-at-a-time over per-member iterators grouped by
    * position; per slice a k-sized heap, merge = nSlices·k rows. No
    * block-max gate — a group's bound would need blended block maxima
    * across members; the walk is still block-decode-on-demand and
    * filter/tombstone/msm compose as everywhere. `minShouldMatch` counts
    * matched GROUPS (ES: each group is one bool.should clause).
    */
  def synonymTopK(
      spark: SparkSession,
      indexDir: String,
      groups: Seq[Seq[String]],
      mode: String,
      k: Int,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    view(spark, indexDir).synonymTopK(groups, mode, k, attrFilter, mustNot, minShouldMatch)
}
