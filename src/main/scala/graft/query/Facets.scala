package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, AttrSidecar, IndexBuilder}

/** Aggregations over a query's FULL match set — the Elasticsearch
  * aggregation phase (the reference's users read event logs through
  * exactly this: Kibana date histograms and terms facets over a filtered
  * query; ES provisions the keyword/date fields next to the text fields
  * for it, `ElasticSearchStorage.cs:208-233`).
  *
  *   - [[dateHistogram]]: matching-doc counts per UTC time bucket of
  *     `warc_ts` (hour/day/month) — ES `date_histogram`;
  *   - [[termsAgg]]: matching-doc counts per `lang` — ES `terms` agg on
  *     a keyword field.
  *
  * Both take ONE index or a SEGMENT FAMILY (`Multi` variants — streaming
  * segments / time buckets aggregate without any merge, ≙ ES aggregating
  * across its `{prefix}-*` indices). A single index is a one-segment
  * view.
  *
  * The walk is the view's: every aggregation here enumerates its matches
  * through [[MultiSearcher.matchWalk]] (or [[MultiSearcher.scoredWalk]]
  * for [[topHitsAgg]]) and keeps only its per-doc fold. Each (segment,
  * slice) task streams its matching doc ids (leapfrog AND / counted OR
  * over the same pushdown-filtered posting blocks retrieval uses) and
  * reads each match's doc values from its OWN slice's attribute sidecar
  * with a monotone O(1)-memory value cursor ([[AttrSidecar.AttrReader]]
  * — the ES doc-values read path). What crosses the network is only the
  * per-slice partials: bounded by the bucket cardinality, independent of
  * match count. No dictionary is read and nothing is scored (except
  * top_hits). Filter context, must_not and tombstones compose exactly as
  * in retrieval.
  */
object Facets {

  /** (bucket, n_docs) per UTC `interval` bucket ∈ {hour, day, month},
    * ascending bucket. Buckets formatted yyyyMMddHH / yyyyMMdd / yyyyMM —
    * the same fixed-UTC labels TimeBuckets uses (session-tz-proof).
    */
  def dateHistogram(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      interval: String = "day",
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    dateHistogramMulti(spark, Seq(indexDir), queryTerms, mode, interval,
      attrFilter, mustNot, minShouldMatch)

  /** [[dateHistogram]] over a segment family (no merge, no id remap). */
  def dateHistogramMulti(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      interval: String = "day",
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    val pattern = bucketPattern(interval)
    aggregate(spark, segmentDirs, queryTerms, mode, attrFilter, mustNot, minShouldMatch,
      keyPattern = pattern, kwField = null, numField = null, numWidth = 0L)
      .select(col("k1").as("bucket"), col("n").as("n_docs"))
      .orderBy("bucket")
  }

  /** (<field>, n_docs) per value of a DECLARED keyword field of the
    * matching docs, descending count (ES terms-agg order; ties by value
    * for determinism). `kwField` defaults to lang; ANY keyword field of
    * the index's attr schema works (ES terms agg on any keyword field).
    */
  def termsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      kwField: String = "lang"
  ): DataFrame =
    termsAggMulti(spark, Seq(indexDir), queryTerms, mode, attrFilter, mustNot,
      minShouldMatch, kwField)

  /** [[termsAgg]] over a segment family. */
  def termsAggMulti(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      kwField: String = "lang"
  ): DataFrame = {
    aggregate(spark, segmentDirs, queryTerms, mode, attrFilter, mustNot, minShouldMatch,
      keyPattern = null, kwField = kwField, numField = null, numWidth = 0L)
      .select(col("k1").as(kwField), col("n").as("n_docs"))
      .orderBy(desc("n_docs"), asc(kwField))
  }

  /** ES `rare_terms`: the LONG-TAIL complement of [[termsAgg]] — buckets
    * of a declared keyword field whose doc count over the match set is
    * ≤ `maxDocCount`, ordered count-ASC (rarest first), ties by value.
    * ES trades exactness for memory with a CuckooFilter at genuinely
    * unbounded cardinality; here the declared-keyword contract already
    * bounds the per-slice partial maps, so counts are exact. The ≤ cut
    * runs AFTER the global combine — a slice-local count cannot prove
    * rarity (a value rare in one slice may be hot in another), so
    * filtering partials early would silently over-report rare buckets.
    */
  def rareTermsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      maxDocCount: Long = 1L,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      kwField: String = "lang"
  ): DataFrame =
    rareTermsAggMulti(spark, Seq(indexDir), queryTerms, mode, maxDocCount,
      attrFilter, mustNot, minShouldMatch, kwField)

  /** [[rareTermsAgg]] over a segment family. */
  def rareTermsAggMulti(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      maxDocCount: Long = 1L,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      kwField: String = "lang"
  ): DataFrame = {
    require(maxDocCount >= 1, "maxDocCount must be ≥ 1")
    aggregate(spark, segmentDirs, queryTerms, mode, attrFilter, mustNot, minShouldMatch,
      keyPattern = null, kwField = kwField, numField = null, numWidth = 0L)
      .where(col("n") <= maxDocCount)
      .select(col("k1").as(kwField), col("n").as("n_docs"))
      .orderBy(asc("n_docs"), asc(kwField))
  }

  /** COMPOSITE terms × date_histogram — Kibana's split-series chart
    * ("events per <keyword> per <interval>", e.g. per server per day):
    * one match walk, keys = (keyword value, UTC bucket), counts shuffle
    * bounded by |values| × |buckets|. Returns (<kwField>, bucket,
    * n_docs) ordered by (kwField, bucket).
    */
  def termsDateHistogram(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String = "lang",
      interval: String = "day",
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    val pattern = bucketPattern(interval)
    aggregate(spark, Seq(indexDir), queryTerms, mode, attrFilter, mustNot, minShouldMatch,
      keyPattern = pattern, kwField = kwField, numField = null, numWidth = 0L)
      .select(col("k1").as(kwField), col("k2").as("bucket"), col("n").as("n_docs"))
      .orderBy(kwField, "bucket")
  }

  /** ES `multi_terms` — composite keyword × keyword buckets ("events per
    * (source, lang)"): one match walk, keys are the two declared keyword
    * doc values as SEPARATE tuple fields, exchange bounded by the product
    * of the two cardinalities (keyword-field contract). Returns
    * (<kwField>, <kwField2>, n_docs) ordered ES-style by count desc,
    * keys asc.
    */
  def multiTermsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String,
      kwField2: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    require(kwField != kwField2,
      "multi_terms needs two DISTINCT keyword fields (ES multi_terms contract)")
    aggregate(spark, Seq(indexDir), queryTerms, mode, attrFilter, mustNot, minShouldMatch,
      keyPattern = null, kwField = kwField, numField = null, numWidth = 0L,
      kwField2 = kwField2)
      .select(col("k1").as(kwField), col("k2").as(kwField2), col("n").as("n_docs"))
      .orderBy(desc("n_docs"), asc(kwField), asc(kwField2))
  }

  /** ES `terms` agg with a metric SUB-aggregation and sub-metric bucket
    * order ("top sources by avg doc_len" — terms + {avg: field} +
    * order: {metric: desc}). One match walk; each slice accumulates
    * (count, sum, min, max) of the numeric attr per keyword value, so
    * the exchange is still one partial row per (slice, value) no matter
    * the match count. Returns (<kwField>, n_docs, min_v, max_v, sum_v,
    * avg_v) ordered by `orderBy` desc (count|sum|min|max|avg), value asc,
    * top `size`.
    */
  def termsStatsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String,
      numField: String,
      orderMetric: String = "avg",
      size: Int = 10,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    val base = aggregate(spark, Seq(indexDir), queryTerms, mode, attrFilter,
      mustNot, minShouldMatch, keyPattern = null, kwField = kwField,
      numField = null, numWidth = 0L, metricField = numField)
      .select(col("k1").as(kwField), col("n").as("n_docs"),
        col("mn").as("min_v"), col("mx").as("max_v"), col("sm").as("sum_v"))
      .withColumn("avg_v", col("sum_v").cast("double") / col("n_docs").cast("double"))
    val ord = orderMetric match {
      case "count" => col("n_docs")
      case "sum"   => col("sum_v")
      case "min"   => col("min_v")
      case "max"   => col("max_v")
      case "avg"   => col("avg_v")
      case other   => throw new IllegalArgumentException(s"unknown order metric $other")
    }
    base.orderBy(ord.desc, asc(kwField)).limit(size)
  }

  /** ES `date_histogram` + metric sub-agg ("avg doc_len per day" — the
    * single most common Kibana chart: a metric line over time, not just
    * counts). Same one-walk shape as [[termsStatsAgg]] with the UTC time
    * bucket as the key: one (n, sum, min, max) partial per
    * (slice, bucket). Returns (bucket, n_docs, min_v, max_v, sum_v,
    * avg_v) ordered by bucket.
    */
  def dateHistogramStats(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      interval: String = "day",
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    val pattern = bucketPattern(interval)
    aggregate(spark, Seq(indexDir), queryTerms, mode, attrFilter, mustNot,
      minShouldMatch, keyPattern = pattern, kwField = null, numField = null,
      numWidth = 0L, metricField = numField)
      .select(col("k1").as("bucket"), col("n").as("n_docs"),
        col("mn").as("min_v"), col("mx").as("max_v"), col("sm").as("sum_v"))
      .withColumn("avg_v", col("sum_v").cast("double") / col("n_docs").cast("double"))
      .orderBy("bucket")
  }

  /** ES `terms` + `cardinality` sub-agg ("unique users per server"):
    * distinct values of a SECOND keyword field inside each bucket of the
    * first. Exact — rides the composite (kw × kw) walk, so the exchange
    * is the DISTINCT PAIR set (bounded by the two keyword cardinalities'
    * product, the declared-keyword contract), never the match count;
    * the per-bucket distinct count is a tiny second aggregation over
    * that pair frame. For an unbounded second field, [[cardinalityAgg]]
    * (HLL sketches) is the swap-in. Returns (<kwField>, n_distinct,
    * n_docs) ordered by n_distinct desc, value asc.
    */
  def termsCardinalityAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String,
      distinctField: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    require(kwField != distinctField, "terms and cardinality fields must differ")
    aggregate(spark, Seq(indexDir), queryTerms, mode, attrFilter, mustNot,
      minShouldMatch, keyPattern = null, kwField = kwField, numField = null,
      numWidth = 0L, kwField2 = distinctField)
      .groupBy(col("k1"))
      .agg(countDistinct(col("k2")).as("n_distinct"), sum(col("n")).as("n_docs"))
      .select(col("k1").as(kwField), col("n_distinct"), col("n_docs"))
      .orderBy(desc("n_distinct"), asc(kwField))
  }

  /** ES `filters` aggregation: NAMED buckets, each its own term query
    * ("errors" / "warnings" / "timeouts"), counted over the base query's
    * match set — the hand-labelled dashboard split `terms` can't express.
    * ONE match walk: every bucket keeps a monotone [[DocSet]] membership
    * cursor over its own postings (block skip + binary search per probe,
    * never a full decode), advanced by the ascending candidate stream; a
    * doc landing in several buckets counts in each, exactly like ES.
    * Exchange = nSlices × nBuckets partial counts. Returns
    * (bucket, n_docs) for non-empty buckets ordered by bucket name.
    */
  def filtersAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      buckets: Seq[(String, Seq[String], String)], // (name, terms, and|or)
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    filtersWalk(spark, indexDir, queryTerms, mode, buckets, attrFilter,
      mustNot, minShouldMatch, pairs = false)

  /** ES `adjacency_matrix`: [[filtersAgg]]'s named buckets PLUS every
    * pairwise intersection ("errors&web" — which filter combinations
    * co-occur, the co-occurrence heat map). Same single walk: the
    * per-doc bucket membership vector feeds singles and the upper
    * triangle together; exchange nSlices × (B + B(B−1)/2) counts.
    * Intersections are named `a&b` in bucket-list order (ES separator).
    */
  def adjacencyMatrixAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      buckets: Seq[(String, Seq[String], String)],
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    filtersWalk(spark, indexDir, queryTerms, mode, buckets, attrFilter,
      mustNot, minShouldMatch, pairs = true)

  private def filtersWalk(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      buckets: Seq[(String, Seq[String], String)],
      attrFilter: AttrPred,
      mustNot: Seq[String],
      minShouldMatch: Int,
      pairs: Boolean
  ): DataFrame = {
    import spark.implicits._
    require(buckets.nonEmpty, "no filter buckets")
    require(buckets.map(_._1).distinct.size == buckets.size, "duplicate bucket names")
    buckets.foreach { case (name, ts, m) =>
      require(ts.nonEmpty, s"bucket $name has no terms")
      require(m == "and" || m == "or", s"bucket $name: unknown mode $m")
    }
    val bkts = buckets.map { case (n, ts, m) => (n, ts.distinct.toArray, m == "and") }.toArray
    new MultiSearcher(spark, Seq(indexDir))
      .matchWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch,
        extraTerms = buckets.flatMap(_._2)) { s =>
        // bucket -> membership cursors: OR = one set over present terms
        // (empty -> unmatchable); AND = one per term, all must contain
        val sets: Array[Array[DocSet]] = bkts.map { case (_, bts, bAnd) =>
          if (bAnd) {
            val per = bts.flatMap(t => s.cursor(t).map(it => new PostingSet(Array(it)): DocSet))
            if (per.length < bts.length) null else per // a term absent from the slice
          } else {
            val present = bts.flatMap(s.cursor)
            if (present.isEmpty) null else Array(new PostingSet(present): DocSet)
          }
        }
        val nB = bkts.length
        val counts = new Array[Long](nB)
        val pairCounts = if (pairs) new Array[Long](nB * nB) else null
        val okArr = new Array[Boolean](nB)
        s.ids.foreach { id =>
          var b = 0
          while (b < nB) {
            val ss = sets(b)
            var ok = ss != null
            var i = 0
            while (ok && i < ss.length) { ok = ss(i).matches(id); i += 1 }
            okArr(b) = ok
            if (ok) counts(b) += 1L
            b += 1
          }
          if (pairs) {
            var a = 0
            while (a < nB) {
              if (okArr(a)) {
                var c = a + 1
                while (c < nB) {
                  if (okArr(c)) pairCounts(a * nB + c) += 1L
                  c += 1
                }
              }
              a += 1
            }
          }
        }
        val singles = bkts.indices.iterator
          .filter(counts(_) > 0L)
          .map(i => (bkts(i)._1, counts(i)))
        val inter =
          if (!pairs) Iterator.empty
          else for {
            a <- bkts.indices.iterator
            c <- (a + 1 until nB).iterator
            if pairCounts(a * nB + c) > 0L
          } yield (s"${bkts(a)._1}&${bkts(c)._1}", pairCounts(a * nB + c))
        singles ++ inter
      }
      .toDF("bucket", "n_docs")
      .groupBy($"bucket")
      .agg(sum($"n_docs").as("n_docs"))
      .orderBy($"bucket")
  }

  /** ES `significant_terms` on a declared keyword field: values
    * OVERREPRESENTED in the match set relative to the whole corpus —
    * "what is unusual about these matching events" (the diagnostic agg of
    * the event-log read path). Scoring = ES's JLH heuristic:
    *
    *   score = (fgPct − bgPct) · (fgPct / bgPct)
    *
    * with fgPct = fg/|match set| and bgPct = bg/|corpus|; only values
    * with fgPct > bgPct qualify (JLH's positive side). Foreground counts
    * come from the sidecar-backed match walk ([[termsAgg]]'s machinery);
    * background counts are ONE column-pruned aggregation of the docs
    * table through the field's declared SQL expression — no extra state,
    * the schema is the contract. Returns (value, fg_count, bg_count,
    * score_e4) ordered by score desc.
    */
  def significantTerms(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String = "lang",
      size: Int = 10,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    val spec = IndexBuilder.readMeta(indexDir).attrs
      .find(a => a.name == kwField && a.kind == graft.index.AttrSchema.Kw)
      .getOrElse(throw new IllegalArgumentException(
        s"'$kwField' is not a declared keyword attr of $indexDir"))
    val fg = termsAgg(spark, indexDir, queryTerms, mode, attrFilter, mustNot,
      minShouldMatch, kwField)
      .collect() // ≤ |values| of a declared keyword field (bounded-cardinality contract)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (fg.isEmpty)
      return spark.emptyDataset[(String, Long, Long, Long)]
        .toDF(kwField, "fg_count", "bg_count", "score_e4")
    val fgTotal = fg.values.sum.toDouble
    val bgTotal = IndexBuilder.readStats(spark, indexDir).n_docs.toDouble
    val bg = backgroundCounts(spark, indexDir, spec.sql, fg.keySet)
    val rows = fg.toSeq.flatMap { case (v, f) =>
      val b = bg.getOrElse(v, f) // defensive: fg ⊆ bg by construction
      val fgPct = f.toDouble / fgTotal
      val bgPct = b.toDouble / bgTotal
      if (fgPct > bgPct) {
        val score = (fgPct - bgPct) * (fgPct / bgPct)
        Some((v, f, b, math.round(score * 10000.0)))
      } else None
    }
    rows.sortBy { case (v, _, _, s) => (-s, v) }.take(size)
      .toDF(kwField, "fg_count", "bg_count", "score_e4")
  }

  /** significant_terms' background side, BOUNDED by the foreground keys:
    * one column-pruned aggregation of the docs table through the field's
    * declared SQL expression, semi-joined (broadcast — fg keys are the
    * already-collected bucket set) against the foreground's key set
    * BEFORE anything reaches the driver. What gets collected is ≤
    * |fgKeys| rows regardless of the keyword's corpus cardinality — a
    * high-cardinality declared keyword (host, user id) at 100× scale
    * must never turn this into a corpus-cardinality driver map
    * (VERDICT r4 #1). Package-private for the boundedness unit test.
    */
  private[graft] def backgroundCounts(
      spark: SparkSession,
      indexDir: String,
      fieldSql: String,
      fgKeys: Set[String]
  ): Map[String, Long] = {
    import spark.implicits._
    if (fgKeys.isEmpty) return Map.empty
    val keys = fgKeys.toSeq.toDF("v")
    // semi-join BELOW the aggregation: the broadcast filter runs map-side,
    // so even the shuffle carries only fg-key rows, not the full corpus
    // histogram
    IndexBuilder.withDocsTable(spark, indexDir)(
      _.select(expr(s"coalesce(CAST(($fieldSql) AS STRING), '')").as("v")))
      .join(broadcast(keys), Seq("v"), "left_semi")
      .groupBy($"v")
      .agg(count(lit(1)).as("n"))
      .collect() // ≤ |fgKeys| rows
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** ES `histogram` aggregation on a DECLARED numeric field: matching-doc
    * counts per fixed-width bucket (`bucket_lo` = floor(value/width)·width
    * — floorDiv, so negative values bucket correctly). Works on any
    * numeric attr of the index's schema (doc_len, warc_ts millis, …).
    */
  def numericHistogram(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      bucketWidth: Long,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    aggregate(spark, Seq(indexDir), queryTerms, mode, attrFilter, mustNot, minShouldMatch,
      keyPattern = null, kwField = null, numField = numField, numWidth = bucketWidth)
      .select(col("k1").cast("long").as("bucket_lo"), col("n").as("n_docs"))
      .orderBy("bucket_lo")
  }

  /** ES `_count`: total matching docs — no scoring, no ranking, no doc
    * values; only per-slice partial counts reach the driver. Composes
    * with filter context / must_not / tombstones / msm like retrieval.
    */
  def matchCount(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): Long = {
    import spark.implicits._
    val row = new MultiSearcher(spark, Seq(indexDir))
      .matchWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch) { s =>
        var n = 0L
        s.ids.foreach(_ => n += 1L)
        Iterator.single(n)
      }
      .agg(sum("value")).head()
    if (row.isNullAt(0)) 0L else row.getLong(0) // no matched blocks → 0
  }

  /** The query's matching doc ids as a DataFrame(doc_id) — the primitive
    * under aggs that must LEAVE the index (significant_text joins ids to
    * the stored docs table; exports/hydrations ditto). Each (slice) task
    * STREAMS its matches (no per-slice materialization); the exchange is
    * 8 bytes per matching doc — inherent to any id-producing read.
    */
  def matchIds(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    new MultiSearcher(spark, Seq(indexDir))
      .matchWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch)(s => s.ids.map(s.docBase + _))
      .toDF("doc_id")
  }

  /** ES `significant_text`: terms from the TEXT of the matching docs
    * that are overrepresented vs the whole corpus — the free-text
    * variant of [[significantTerms]] ("what words are unusual in these
    * events"), same JLH score. Foreground counts tokenize ONLY the
    * matching docs (match ids semi-join the stored docs table — column-
    * pruned to text, no full-corpus tokenize); background doc
    * frequencies come FREE from the index's term dictionary. `sampleTopK`
    * > 0 restricts the foreground to the top-k BM25 docs — ES pairs
    * significant_text with a sampler agg for exactly this cost bound;
    * 0 = full match set (bounded fixtures / small queries).
    */
  def significantText(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      size: Int = 10,
      sampleTopK: Int = 0,
      minDocCount: Long = 2L,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    val ids =
      if (sampleTopK > 0)
        Search.topK(spark, indexDir, queryTerms, mode, sampleTopK,
          attrFilter = attrFilter, mustNot = mustNot, minShouldMatch = minShouldMatch)
          .select($"doc_id")
      else matchIds(spark, indexDir, queryTerms, mode, attrFilter, mustNot, minShouldMatch)
    val fgTotalL = ids.count()
    if (fgTotalL == 0L)
      return spark.emptyDataset[(String, Long, Long, Long)]
        .toDF("term", "fg_count", "bg_count", "score_e4")
    val fgTotal = fgTotalL.toDouble
    val bgTotal = IndexBuilder.readStats(spark, indexDir).n_docs.toDouble
    // fg doc counts per term: DISTINCT terms per doc (doc-frequency
    // semantics, matching the dictionary's bg side). Tokenization MUST be
    // the index analyzer's — a `split(' ')` here diverges from the
    // dictionary on any multi-separator text and silently skews scores
    val fg = IndexBuilder.readDocsTable(spark, indexDir, withText = true)
      .select($"doc_id", $"text")
      .join(ids, Seq("doc_id"), "left_semi")
      .select($"text").as[String]
      .flatMap(t => graft.functions.Analyzer.tokenize(t).distinct.iterator)
      .toDF("term")
      .groupBy($"term").agg(count(lit(1)).as("fg_count"))
      .where($"fg_count" >= minDocCount)
    // bg from the dictionary — zero extra corpus work; inner join is
    // sound (every fg term appears in ≥1 doc ⇒ it is in the dictionary)
    val bg = IndexBuilder.readTerms(spark, indexDir).toDF()
      .select($"term", $"doc_freq".as("bg_count"))
    // query terms themselves are trivially significant — ES excludes them
    val exclude = queryTerms.distinct
    fg.join(bg, Seq("term"))
      .where(!$"term".isin(exclude: _*))
      .withColumn("fg_pct", $"fg_count".cast("double") / fgTotal)
      .withColumn("bg_pct", $"bg_count".cast("double") / bgTotal)
      .where($"fg_pct" > $"bg_pct")
      .withColumn("score_e4",
        round(($"fg_pct" - $"bg_pct") * ($"fg_pct" / $"bg_pct") * 10000.0).cast("long"))
      .select($"term", $"fg_count", $"bg_count", $"score_e4")
      .orderBy(desc("score_e4"), asc("term"))
      .limit(size)
  }

  /** ES `sampler` + `terms` sub-aggregation: the terms agg computed over
    * only the TOP-`shardSize` scoring docs of the query — the standard
    * cost bound for expensive sub-aggs. Deliberate deviation from ES:
    * the sample is the GLOBAL top-k (one logical shard), not per-shard —
    * per-slice sampling ties results to the physical slice layout, which
    * a portable engine must not (the same corpus at nSlices=4 vs 16
    * would answer differently). Composition: ranked top-k (k-sized
    * per-slice heaps) → broadcast id allow-list → one sidecar value scan
    * over ≤ shardSize docs.
    */
  def samplerTermsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      shardSize: Int = 100,
      kwField: String = "lang",
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    val top = Search.topK(spark, indexDir, queryTerms, mode, shardSize,
      attrFilter = attrFilter, mustNot = mustNot, minShouldMatch = minShouldMatch)
      .select($"doc_id").as[Long].collect() // ≤ shardSize ids by contract
    if (top.isEmpty)
      return spark.emptyDataset[(String, Long)].toDF(kwField, "n_docs")
    // reuse the standard terms walk with the id allow-list conjoined into
    // the filter chain: the walk touches only blocks the query matched,
    // and the sidecar read seeks ≤ shardSize docs per slice
    aggregate(spark, Seq(indexDir), queryTerms, mode, attrFilter, mustNot,
      minShouldMatch, keyPattern = null, kwField = kwField, numField = null,
      numWidth = 0L, idAllow = top.sorted)
      .select(col("k1").as(kwField), col("n").as("n_docs"))
      .orderBy(desc("n_docs"), asc(kwField))
  }

  /** ES `stats` aggregation on a DECLARED numeric field of the match
    * set: ONE row (n_docs, min_v, max_v, sum_v, avg_v) — the metric
    * layer every Kibana dashboard pairs with its date_histogram (avg
    * duration, max port, sum bytes…). Each (segment, slice) task walks
    * its matches once and emits a SINGLE (n, sum, min, max) partial —
    * the exchange is nSlices×1 rows, independent of match count and of
    * the field's cardinality. avg = sum/n in double (deterministic:
    * integer sum then one division — SQL-mirrorable). Composes with
    * filter context / must_not / tombstones / msm like every other agg.
    * No matches → (0, null, null, null, null), the ES stats shape.
    */
  def statsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    statsAggMulti(spark, Seq(indexDir), queryTerms, mode, numField, attrFilter,
      mustNot, minShouldMatch)

  /** [[statsAgg]] over a segment family (partials aggregate across
    * segments with no merge, like every Multi variant).
    */
  def statsAggMulti(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    numericWalk(spark, segmentDirs, queryTerms, mode, numField, attrFilter,
      mustNot, minShouldMatch, histogram = false)
      .agg(
        coalesce(sum($"n"), lit(0L)).as("n_docs"),
        min($"mn").as("min_v"),
        max($"mx").as("max_v"),
        sum($"sm").as("sum_v"))
      .withColumn("avg_v",
        when($"n_docs" > 0, $"sum_v".cast("double") / $"n_docs".cast("double")))
  }

  /** ES `weighted_avg`: Σ(value·weight)/Σweight over the match set, both
    * DECLARED numeric fields (the "avg grade weighted by votes" agg).
    * Per-slice partials are ONE row of exact integer sums (Σvw via
    * multiplyExact/addExact — overflow is loud, epoch-scale fields
    * belong on a double swap-in, not a silent wrap), so the final
    * division is a single double op — order-independent and
    * SQL-mirrorable. Returns (n_docs, sum_vw, sum_w, wavg_v); wavg_v is
    * null when no matches or Σw = 0 (the ES null_value shape).
    */
  def weightedAvgAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      valueField: String,
      weightField: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    weightedAvgAggMulti(spark, Seq(indexDir), queryTerms, mode, valueField,
      weightField, attrFilter, mustNot, minShouldMatch)

  /** [[weightedAvgAgg]] over a segment family. */
  def weightedAvgAggMulti(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      valueField: String,
      weightField: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    numericWalk(spark, segmentDirs, queryTerms, mode, valueField, attrFilter,
      mustNot, minShouldMatch, histogram = false, weightField = weightField)
      .agg(
        coalesce(sum($"n"), lit(0L)).as("n_docs"),
        coalesce(sum($"sm"), lit(0L)).as("sum_vw"),
        coalesce(sum($"s2"), lit(0L)).as("sum_w"))
      .withColumn("wavg_v",
        when($"sum_w" > 0, $"sum_vw".cast("double") / $"sum_w".cast("double")))
  }

  /** ES `matrix_stats` for a FIELD PAIR: per-field mean/variance plus
    * covariance and Pearson correlation over the match set. One walk,
    * six exact integer sums per slice (Σa, Σa², Σb, Σb², Σab, n — all
    * `addExact`, so epoch-scale fields fail loudly rather than wrap);
    * the moments divide out only after the global combine, so results
    * are slice-order independent and the DuckDB oracle recomputes them
    * from the same integer sums bit-for-bit. Deliberate deviation from
    * ES: POPULATION variance/covariance (ES matrix_stats uses n−1
    * sample forms) — consistent with [[extendedStatsAgg]]; callers
    * wanting sample forms scale by n/(n−1).
    */
  def matrixStatsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      fieldA: String,
      fieldB: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    numericWalk(spark, Seq(indexDir), queryTerms, mode, fieldA, attrFilter,
      mustNot, minShouldMatch, histogram = false, weightField = fieldB, matrix = true)
      .agg(
        coalesce(sum($"n"), lit(0L)).as("n_docs"),
        coalesce(sum($"sm"), lit(0L)).as("sum_a"),
        coalesce(sum($"s2"), lit(0L)).as("sum_aa"),
        coalesce(sum($"mn"), lit(0L)).as("sum_b"),
        coalesce(sum($"mx"), lit(0L)).as("sum_bb"),
        coalesce(sum($"x1"), lit(0L)).as("sum_ab"))
      .withColumn("mean_a", when($"n_docs" > 0, $"sum_a".cast("double") / $"n_docs"))
      .withColumn("mean_b", when($"n_docs" > 0, $"sum_b".cast("double") / $"n_docs"))
      .withColumn("var_a",
        when($"n_docs" > 0, $"sum_aa".cast("double") / $"n_docs" - $"mean_a" * $"mean_a"))
      .withColumn("var_b",
        when($"n_docs" > 0, $"sum_bb".cast("double") / $"n_docs" - $"mean_b" * $"mean_b"))
      .withColumn("covar",
        when($"n_docs" > 0, $"sum_ab".cast("double") / $"n_docs" - $"mean_a" * $"mean_b"))
      .withColumn("corr",
        when($"var_a" > 0 && $"var_b" > 0, $"covar" / sqrt($"var_a" * $"var_b")))
  }

  /** ES `extended_stats`: [[statsAgg]] plus sum-of-squares, population
    * variance and std deviation (ES definitions: variance =
    * sum_of_sqrs/n − mean², std = √variance). Partials stay one row per
    * (segment, slice) — Σv and Σv² are EXACT integer sums, so the final
    * double arithmetic is order-independent and SQL-mirrorable. Σv²
    * overflow fails loudly (addExact) — the provisioned numeric fields
    * (lengths, ports, durations) are small-magnitude; an epoch-millis
    * field belongs on the documented double/t-digest swap-in instead.
    */
  def extendedStatsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    extendedStatsAggMulti(spark, Seq(indexDir), queryTerms, mode, numField,
      attrFilter, mustNot, minShouldMatch)

  /** ES `auto_date_histogram`: pick the FINEST interval from the
    * hour→day→month ladder whose bucket count over the match set's time
    * span stays ≤ `targetBuckets`, then run [[dateHistogram]] at it —
    * the Kibana default time chart. Span comes from one [[statsAgg]]
    * walk on `warc_ts` (min/max epoch-millis; bucket counts by UTC
    * truncation, exactly mirroring the histogram's own bucketing).
    * Returns (interval, bucket, n_docs).
    */
  def autoDateHistogram(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      targetBuckets: Int = 20,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    require(targetBuckets >= 1, "targetBuckets must be positive")
    val st = statsAgg(spark, indexDir, queryTerms, mode, "warc_ts",
      attrFilter, mustNot, minShouldMatch).head()
    if (st.getLong(0) == 0L)
      return spark.emptyDataset[(String, String, Long)].toDF("interval", "bucket", "n_docs")
    val (mn, mx) = (st.getLong(1), st.getLong(2))
    val hours = Math.floorDiv(mx, 3600000L) - Math.floorDiv(mn, 3600000L) + 1
    val days = Math.floorDiv(mx, 86400000L) - Math.floorDiv(mn, 86400000L) + 1
    // coarsest rung is month; months may still exceed the target (ES
    // keeps coarsening — year rungs are the documented extension)
    val interval =
      if (hours <= targetBuckets) "hour"
      else if (days <= targetBuckets) "day"
      else "month"
    dateHistogram(spark, indexDir, queryTerms, mode, interval,
      attrFilter, mustNot, minShouldMatch)
      .select(lit(interval).as("interval"), $"bucket", $"n_docs")
  }

  /** [[extendedStatsAgg]] over a segment family. */
  def extendedStatsAggMulti(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    numericWalk(spark, segmentDirs, queryTerms, mode, numField, attrFilter,
      mustNot, minShouldMatch, histogram = false, withS2 = true)
      .agg(
        coalesce(sum($"n"), lit(0L)).as("n_docs"),
        min($"mn").as("min_v"),
        max($"mx").as("max_v"),
        sum($"sm").as("sum_v"),
        sum($"s2").as("sum_sq"))
      .withColumn("avg_v",
        when($"n_docs" > 0, $"sum_v".cast("double") / $"n_docs".cast("double")))
      .withColumn("variance_v",
        when($"n_docs" > 0,
          $"sum_sq".cast("double") / $"n_docs".cast("double") - $"avg_v" * $"avg_v"))
      .withColumn("std_dev_v", when($"n_docs" > 0, sqrt($"variance_v")))
  }

  /** ES `percentile_ranks` (the inverse of [[percentilesAgg]]), exact:
    * for each probe value, the percentage of match-set values ≤ it —
    * 100·|{v ≤ probe}|/n. Same per-slice value-histogram partials; the
    * global side touches only DISTINCT values (the declared-numeric
    * cardinality contract). Returns (value, pct_e4) ordered by value.
    */
  def percentileRanksAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      values: Seq[Long],
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    require(values.nonEmpty, "percentile_ranks needs probe values")
    val hist = numericWalk(spark, Seq(indexDir), queryTerms, mode, numField,
      attrFilter, mustNot, minShouldMatch, histogram = true)
      .groupBy($"v").agg(sum($"n").as("n"))
    val totalRow = hist.agg(sum($"n")).head()
    if (totalRow.isNullAt(0))
      return spark.emptyDataset[(Long, Long)].toDF("value", "pct_e4")
    val total = totalRow.getLong(0)
    val probes = values.distinct.sorted.toDF("value")
    probes.join(hist, hist("v") <= probes("value"), "left")
      .groupBy($"value")
      .agg(coalesce(sum($"n"), lit(0L)).as("cnt"))
      // pct_e4 = percent × 1e4; integer cnt/total → one double division,
      // mirrored verbatim by the SQL oracle
      .select($"value", round($"cnt" * lit(1e6) / lit(total.toDouble)).cast("long").as("pct_e4"))
      .orderBy($"value")
  }

  /** ES `percentiles` on a declared numeric field, EXACT nearest-rank
    * semantics: for each p, the value at rank ⌈p/100 · n⌉ of the sorted
    * match values. Slices emit (value → count) histogram partials; the
    * global cumulative walk runs over DISTINCT values — bounded by the
    * field's cardinality, not the match count (the doc_len/port/duration
    * fields this serves are low-cardinality by nature; a continuous
    * field at 10^12 docs is where ES itself switches to t-digest
    * approximation, the documented swap-in here). Returns (p, value)
    * ordered by p.
    */
  def percentilesAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      percentiles: Seq[Double] = Seq(25.0, 50.0, 75.0, 95.0, 99.0),
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    require(percentiles.nonEmpty && percentiles.forall(p => p > 0 && p <= 100),
      "percentiles must lie in (0, 100]")
    val hist = numericWalk(spark, Seq(indexDir), queryTerms, mode, numField,
      attrFilter, mustNot, minShouldMatch, histogram = true)
      .groupBy($"v").agg(sum($"n").as("n"))
    val totalRow = hist.agg(sum($"n")).head()
    if (totalRow.isNullAt(0))
      return spark.emptyDataset[(Double, Long)].toDF("p", "value")
    val total = totalRow.getLong(0)
    // cumulative count over distinct values (single ordered pass — see
    // the cardinality contract above)
    val cum = hist.withColumn("cum",
      sum($"n").over(org.apache.spark.sql.expressions.Window.orderBy($"v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val ranks = percentiles.distinct.sorted.toDF("p")
      .withColumn("rank", ceil($"p" * lit(total) / 100.0).cast("long"))
    ranks.join(cum, cum("cum") >= ranks("rank"))
      .groupBy($"p").agg(min($"v").as("value"))
      .orderBy($"p")
  }

  /** [[percentilesAgg]] for CONTINUOUS / unbounded-cardinality fields
    * (epoch millis, byte sizes): per-slice partials are HdrHistogram-style
    * LOG buckets ([[graft.functions.LogBuckets]], relative error ≤ 2^-s)
    * instead of raw values, so the exchange and the cumulative walk are
    * bounded by ~(64−s)·2^s buckets NO MATTER the field — the ES t-digest
    * role, but order-independent and exactly mergeable, which is what
    * lets the DuckDB oracle recompute the sketch bit-for-bit instead of
    * eyeballing a tolerance. Returns (p, value) where value is the
    * bucket's deterministic lower bound.
    */
  def percentilesApproxAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      percentiles: Seq[Double] = Seq(25.0, 50.0, 75.0, 95.0, 99.0),
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      logS: Int = 7
  ): DataFrame = {
    import spark.implicits._
    require(percentiles.nonEmpty && percentiles.forall(p => p > 0 && p <= 100),
      "percentiles must lie in (0, 100]")
    require(logS >= 1 && logS <= 16, "logS out of range")
    val hist = numericWalk(spark, Seq(indexDir), queryTerms, mode, numField,
      attrFilter, mustNot, minShouldMatch, histogram = true, logS = logS)
      .groupBy($"v").agg(sum($"n").as("n"))
    val totalRow = hist.agg(sum($"n")).head()
    if (totalRow.isNullAt(0))
      return spark.emptyDataset[(Double, Long)].toDF("p", "value")
    val total = totalRow.getLong(0)
    val cum = hist.withColumn("cum",
      sum($"n").over(org.apache.spark.sql.expressions.Window.orderBy($"v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val ranks = percentiles.distinct.sorted.toDF("p")
      .withColumn("rank", ceil($"p" * lit(total) / 100.0).cast("long"))
    val s = logS
    val lb = udf((idx: Long) => graft.functions.LogBuckets.lowerBound(idx, s))
    ranks.join(cum, cum("cum") >= ranks("rank"))
      .groupBy($"p").agg(min($"v").as("bucket"))
      .select($"p", lb($"bucket").as("value"))
      .orderBy($"p")
  }

  /** ES `bucket_selector` pipeline aggregation: a HAVING over a parent
    * bucket frame (any terms/histogram/stats agg output) — buckets whose
    * metrics fail `predicate` drop. Pure declarative composition: the
    * predicate runs INSIDE the same plan (Catalyst pushes it below the
    * final order where legal), no driver materialization.
    */
  def bucketSelector(buckets: DataFrame, predicate: Column): DataFrame =
    buckets.where(predicate)

  /** ES `bucket_sort` pipeline aggregation: re-order + paginate a parent
    * bucket frame by its metrics (`from`/`size` are the ES fields).
    * The bucket frame is already the post-combine reduction (counts per
    * key), so this sorts B rows, not the match set.
    */
  def bucketSort(buckets: DataFrame, sortCols: Seq[Column], from: Int = 0, size: Int = -1): DataFrame = {
    require(from >= 0, "from must be ≥ 0")
    val sorted = if (sortCols.isEmpty) buckets else buckets.orderBy(sortCols: _*)
    val paged = if (from == 0) sorted else {
      // offset() keeps the plan declarative (no driver collect for a skip)
      sorted.offset(from)
    }
    if (size < 0) paged else paged.limit(size)
  }

  /** ES `median_absolute_deviation` on a declared numeric field, EXACT:
    * median(|v − median(v)|) over the match set. ES approximates with a
    * t-digest; here both medians are nearest-rank over the same per-slice
    * (value → count) histogram partials as [[percentilesAgg]] (exchange
    * bounded by distinct values, not matches), so the DuckDB oracle can
    * recompute the statistic bit-for-bit. The deviation histogram is
    * derived FROM the value histogram (|v−m| collapses counts, never
    * re-walks matches). Returns one row (n_docs, median_v, mad_v);
    * median_v/mad_v null on an empty match set (ES null shape).
    */
  def medianAbsoluteDeviationAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    // ONE job: the distinct-value histogram was already driver-scale by
    // construction (the old shape ran a single-partition window over it,
    // three sequential driver actions and a cache); both nearest-rank
    // medians now compute from one collected (v, n) frame with the exact
    // same rank arithmetic (r6 opt round).
    val rows = numericWalk(spark, Seq(indexDir), queryTerms, mode, numField,
      attrFilter, mustNot, minShouldMatch, histogram = true)
      .groupBy($"v").agg(sum($"n").as("n"))
      .collect() // ≤ distinct numField values in the match set: uncapped, grows on a continuous field
    if (rows.isEmpty)
      return Seq((0L, null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long]))
        .toDF("n_docs", "median_v", "mad_v")
    val hist = rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = hist.map(_._2).sum
    // nearest-rank p50, same rank arithmetic as percentilesAgg
    val rank = math.ceil(50.0 * total / 100.0).toLong
    def medianOf(pairs: Array[(Long, Long)]): Long = {
      var cum = 0L
      var i = 0
      while (i < pairs.length) {
        cum += pairs(i)._2
        if (cum >= rank) return pairs(i)._1
        i += 1
      }
      pairs.last._1
    }
    val m = medianOf(hist)
    val madHist = hist.groupBy { case (v, _) => math.abs(v - m) }
      .map { case (v, ps) => (v, ps.map(_._2).sum) }
      .toArray.sortBy(_._1)
    val mad = medianOf(madHist)
    Seq((total, m, mad)).toDF("n_docs", "median_v", "mad_v")
  }

  /** ES `date_range` aggregation: matching-doc counts per explicit
    * half-open [from, to) DATE bucket over a declared epoch-millis field
    * — the "last week / last month / older" dashboard slice. Boundaries
    * are ISO-8601 instants or date-math ([[graft.functions.DateMath]],
    * anchored at the DETERMINISTIC `now` the caller passes — an engine
    * that resolves `now` itself can't be replayed or oracle-checked).
    * Rides [[rangeAgg]]'s distinct-value partials; returns
    * (bucket_idx, from_ms, to_ms, n_docs) with null bounds on the
    * unbounded ends, empty buckets omitted.
    */
  def dateRangeAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      boundaries: Seq[String],
      numField: String = "warc_ts",
      nowMs: Long = 0L,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    val edges = boundaries.map(graft.functions.DateMath.resolve(_, nowMs))
    require(edges == edges.sorted && edges.distinct == edges,
      s"date_range boundaries must resolve strictly ascending, got $edges")
    val bounds = (null.asInstanceOf[java.lang.Long] +: edges.map(Long.box))
      .zip(edges.map(Long.box) :+ null.asInstanceOf[java.lang.Long])
      .zipWithIndex
      .map { case ((f, t), i) => (i.toLong, f, t) }
      .toDF("bucket_idx", "from_ms", "to_ms")
    rangeAgg(spark, indexDir, queryTerms, mode, numField, edges,
      attrFilter, mustNot, minShouldMatch)
      .join(broadcast(bounds), Seq("bucket_idx"))
      .select($"bucket_idx", $"from_ms", $"to_ms", $"n_docs")
      .orderBy($"bucket_idx")
  }

  /** ES `range` aggregation on a declared numeric field: matching-doc
    * counts per EXPLICIT half-open bucket [edge_i, edge_{i+1}), with the
    * unbounded (−∞, edge_0) and [edge_last, +∞) ends — the
    * "small/medium/large" dashboard slicing `histogram` can't express.
    * Rides the same per-slice (value → count) histogram partials as
    * percentiles: the bucket assignment runs over the tiny distinct-value
    * frame, not the match set. Returns (bucket_idx, n_docs), bucket_idx
    * 0-based from the unbounded low end; empty buckets are omitted (ES
    * keyed-response analog without zero-fill).
    */
  def rangeAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      edges: Seq[Long],
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    require(edges.nonEmpty && edges == edges.sorted && edges.distinct == edges,
      "edges must be non-empty, strictly ascending")
    val hist = numericWalk(spark, Seq(indexDir), queryTerms, mode, numField,
      attrFilter, mustNot, minShouldMatch, histogram = true)
    val edgeArr = edges.map(e => s"${e}L").mkString("array(", ", ", ")")
    hist
      .withColumn("bucket_idx",
        expr(s"aggregate($edgeArr, 0L, (acc, e) -> acc + CASE WHEN v >= e THEN 1 ELSE 0 END)"))
      .groupBy($"bucket_idx")
      .agg(sum($"n").as("n_docs"))
      .orderBy($"bucket_idx")
  }

  /** ES `cardinality` aggregation on a declared keyword field: the number
    * of DISTINCT values among the matching docs, via HyperLogLog++ slice
    * partials ([[graft.functions.Hll]]) — each (segment, slice) task
    * walks its matches once, sketches the value hashes, and ships ONE
    * sketch of ≤ max(8·sparseLimit, 2^p) bytes; the driver merges
    * nSlices sketches (the ES coordinating-node reduce). Exchange is
    * independent of the field's cardinality — the property that makes
    * this safe where a distinct-shuffle would not be. Sketches in sparse
    * mode merge EXACTLY, so low-cardinality fields (the dashboard common
    * case, and the DuckDB-gated fixture) report zero-error counts;
    * `precision` trades dense-mode error (~1.04/√2^p) for partial size.
    * Returns one row (n_distinct, is_exact).
    */
  def cardinalityAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String = "lang",
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      precision: Int = 14,
      sparseLimit: Int = 4096
  ): DataFrame = {
    import spark.implicits._
    val partials = new MultiSearcher(spark, Seq(indexDir))
      .matchWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch) { s =>
        val reader = s.reader
        val kwIdx = reader.kwIndex(kwField)
        val sketch = new graft.functions.Hll(precision, sparseLimit)
        s.ids.foreach { id =>
          if (reader.seek(id))
            sketch.add(graft.functions.Hll.hashString(reader.kwValue(kwIdx)))
        }
        Iterator.single(sketch.serialize())
      }
      .collect() // nSlices sketches, each size-bounded — the coordinator reduce

    val merged = new graft.functions.Hll(precision, sparseLimit)
    partials.foreach(b => merged.merge(graft.functions.Hll.deserialize(b, sparseLimit)))
    val (est, exact) = merged.estimate
    Seq((est, exact)).toDF("n_distinct", "is_exact")
  }

  /** ES `top_hits` inside a `terms` bucket agg — "show the best k docs
    * per <keyword> value" (Kibana's per-category example rows). One
    * scored match walk per slice; a task-local combiner keeps, per
    * keyword value, the match COUNT and a bounded best-k list, so the
    * exchange is nSlices × |values| × k rows — independent of the match
    * count. Beyond `valueCap` distinct values, NEW values stream
    * straight through as single-hit rows (the collapse cap treatment):
    * results are identical — the global merge already sums counts and
    * re-sorts hit lists — only the exchange grows. Buckets are the top
    * `size` values by doc count (desc, value asc — ES terms order);
    * hits rank by (score desc, docId asc). Returns
    * (<kwField>, n_docs, rank, doc_id, score).
    */
  def topHitsAgg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String = "lang",
      size: Int = 10,
      hitsPerBucket: Int = 3,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      valueCap: Int = 1 << 20
  ): DataFrame = {
    import spark.implicits._
    require(size > 0 && hitsPerBucket > 0, "size and hitsPerBucket must be positive")
    // per (slice, value): (value, countPartial, hits[(negScore, docId)])
    // negated score so a plain ascending array sort ranks (score desc,
    // docId asc) — sign flip is exact on doubles
    val partials = new MultiSearcher(spark, Seq(indexDir))
      .scoredWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch) { s =>
        val reader = s.reader
        val kwIdx = reader.kwIndex(kwField)
        // value → (count, bounded best list) — hitsPerBucket is small, an
        // insertion-sorted ArrayBuffer beats a heap at these sizes
        val acc = scala.collection.mutable.HashMap
          .empty[String, (Array[Long], scala.collection.mutable.ArrayBuffer[(Double, Long)])]
        val overflow = s.hits.flatMap { case (local, sc) =>
          if (!reader.seek(local)) Nil
          else {
            val v = reader.kwValue(kwIdx)
            val id = s.docBase + local
            val ns = -sc
            acc.get(v) match {
              case Some((cnt, buf)) =>
                cnt(0) += 1
                val pos = buf.indexWhere { case (bs, bid) =>
                  ns < bs || (ns == bs && id < bid)
                }
                if (pos >= 0) buf.insert(pos, (ns, id))
                else if (buf.size < hitsPerBucket) buf += ((ns, id))
                if (buf.size > hitsPerBucket) buf.remove(hitsPerBucket)
                Nil
              case None =>
                if (acc.size < valueCap) {
                  acc.update(v, (Array(1L), scala.collection.mutable.ArrayBuffer((ns, id))))
                  Nil
                } else (v, 1L, Array((ns, id))) :: Nil
            }
          }
        }
        // the map drains only AFTER the match stream exhausts (++ takes
        // its right side by name)
        overflow ++ acc.iterator.map { case (v, (cnt, buf)) => (v, cnt(0), buf.toArray) }
      }
      .toDF("v", "cnt", "hits")

    val buckets = partials
      .groupBy($"v")
      .agg(sum($"cnt").as("n_docs"),
        slice(sort_array(flatten(collect_list($"hits"))), 1, hitsPerBucket).as("top"))
      .orderBy(desc("n_docs"), asc("v"))
      .limit(size)

    buckets
      .select($"v", $"n_docs", posexplode($"top"))
      .select(
        $"v".as(kwField), $"n_docs",
        ($"pos" + 1).cast("int").as("rank"),
        $"col._2".as("doc_id"),
        (-$"col._1").as("score"))
  }

  /** ES `cumulative_sum` pipeline agg over a [[dateHistogram]]: running
    * total of matching docs per UTC bucket. The window runs over the
    * bucket frame (≤ |buckets| rows — already reduced), not the match
    * set. Returns (bucket, n_docs, cum_docs).
    */
  def cumulativeSum(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      interval: String = "day",
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    dateHistogram(spark, indexDir, queryTerms, mode, interval, attrFilter,
      mustNot, minShouldMatch)
      .withColumn("cum_docs", sum($"n_docs").over(w))
  }

  /** ES `derivative` pipeline agg over a [[dateHistogram]]: per-bucket
    * delta vs the PREVIOUS PRESENT bucket (ES derivative semantics with
    * no gap policy — empty buckets are absent, exactly as ES omits
    * them without `min_doc_count: 0`). First bucket's derivative is
    * null (ES emits none). Returns (bucket, n_docs, deriv).
    */
  def derivative(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      interval: String = "day",
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"bucket")
    dateHistogram(spark, indexDir, queryTerms, mode, interval, attrFilter,
      mustNot, minShouldMatch)
      .withColumn("deriv", $"n_docs" - lag($"n_docs", 1).over(w))
  }

  /** ES `moving_fn`/`moving_avg` pipeline agg over a [[dateHistogram]]:
    * trailing-window average of per-bucket counts (window includes the
    * current bucket; shorter at the series head, like ES before the
    * window fills). Same scale note as every pipeline agg: the window
    * runs on the ALREADY-REDUCED bucket frame (≤ |buckets| rows), never
    * the match set. Returns (bucket, n_docs, mov_avg).
    */
  def movingAvg(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      interval: String = "day",
      window: Int = 5,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    import spark.implicits._
    require(window >= 1, "window must be positive")
    val w = org.apache.spark.sql.expressions.Window.orderBy($"bucket")
      .rowsBetween(-(window - 1), 0)
    dateHistogram(spark, indexDir, queryTerms, mode, interval, attrFilter,
      mustNot, minShouldMatch)
      .withColumn("mov_avg", avg($"n_docs").over(w))
  }

  /** ES `composite` aggregation with `after`-key paging — THE bounded
    * way to read a large bucket space (Kibana exports and rollups page
    * with this, not with a giant `terms.size`): buckets ordered by the
    * full (value, bucket) key tuple, page = the `size` buckets strictly
    * AFTER `afterKey` (null → first page). The walk recomputes partials
    * per page but each RESPONSE is size-bounded — exactly ES's
    * contract (every composite page re-runs the agg with an after
    * filter; state never accumulates server-side). Returns
    * (<kwField>, bucket, n_docs) key-ordered.
    */
  def compositePage(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String = "lang",
      interval: String = "day",
      size: Int = 10,
      afterKey: (String, String) = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    require(size >= 1, "size must be positive")
    val base = termsDateHistogram(spark, indexDir, queryTerms, mode, kwField,
      interval, attrFilter, mustNot, minShouldMatch)
    val paged =
      if (afterKey == null) base
      else base.where(
        col(kwField) > afterKey._1 ||
          (col(kwField) === afterKey._1 && col("bucket") > afterKey._2))
    paged.orderBy(asc(kwField), asc("bucket")).limit(size)
  }

  /** Match walk emitting numeric partials. `histogram=false`: one
    * (n, sum, min, max) row per (segment, slice) — the stats shape.
    * `histogram=true`: per-slice (value → count) rows — the percentile
    * shape, exchange bounded by per-slice distinct values.
    */
  private def numericWalk(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      numField: String,
      attrFilter: AttrPred,
      mustNot: Seq[String],
      minShouldMatch: Int,
      histogram: Boolean,
      logS: Int = -1, // ≥ 0: histogram keys are LogBuckets indexes, not raw values
      withS2: Boolean = false, // Σv² partials (extended_stats) — opt-in: overflows LOUDLY on epoch-scale fields
      weightField: String = null, // weighted_avg: sm = Σ(v·w) exact, Σw rides the s2 slot
      matrix: Boolean = false // matrix_stats: (sm,s2)=(Σv,Σv²), (mn,mx)=(Σw,Σw²), x1=Σvw — six exact sums, one pass
  ): DataFrame = {
    import spark.implicits._
    require(!(withS2 && weightField != null), "s2 slot is either Σv² or Σw, not both")
    require(!matrix || weightField != null, "matrix mode needs the second field in weightField")
    val partials = new MultiSearcher(spark, segmentDirs)
      .matchWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch) { s =>
        val reader = s.reader
        val numIdx = reader.numIndex(numField) // loud on undeclared
        val wIdx = if (weightField != null) reader.numIndex(weightField) else -1
        if (histogram) {
          val counts = scala.collection.mutable.HashMap.empty[Long, Long]
          s.ids.foreach { id =>
            if (reader.seek(id)) {
              val raw = reader.numValue(numIdx)
              val v = if (logS >= 0) graft.functions.LogBuckets.bucketOf(raw, logS) else raw
              counts.update(v, counts.getOrElse(v, 0L) + 1L)
            }
          }
          counts.iterator.map { case (v, n) => (v, n, 0L, 0L, 0L, 0L) }
        } else {
          var n = 0L; var sm = 0L; var s2 = 0L; var x1 = 0L
          var mn = if (matrix) 0L else Long.MaxValue
          var mx = if (matrix) 0L else Long.MinValue
          s.ids.foreach { id =>
            if (reader.seek(id)) {
              val v = reader.numValue(numIdx)
              n += 1
              // exact integer Σv² partials keep extended_stats
              // deterministic across slice orders; overflow is LOUD (a
              // warc_ts-scale field needs the double/t-digest path, not a
              // silent wrap). Opt-in: plain stats on epoch-millis fields
              // must not square them. Same discipline for weighted_avg's
              // Σ(v·w)/Σw and matrix_stats' six sums.
              if (matrix) {
                val w = reader.numValue(wIdx)
                sm = Math.addExact(sm, v)
                s2 = Math.addExact(s2, Math.multiplyExact(v, v))
                mn = Math.addExact(mn, w)
                mx = Math.addExact(mx, Math.multiplyExact(w, w))
                x1 = Math.addExact(x1, Math.multiplyExact(v, w))
              } else if (wIdx >= 0) {
                val w = reader.numValue(wIdx)
                sm = Math.addExact(sm, Math.multiplyExact(v, w))
                s2 = Math.addExact(s2, w)
                if (v < mn) mn = v
                if (v > mx) mx = v
              } else {
                sm += v
                if (withS2) s2 = Math.addExact(s2, Math.multiplyExact(v, v))
                if (v < mn) mn = v
                if (v > mx) mx = v
              }
            }
          }
          if (n == 0) Iterator.empty else Iterator.single((n, sm, mn, mx, s2, x1))
        }
      }
    if (histogram) partials.toDF("v", "n", "_a", "_b", "_c", "_d").select($"v", $"n")
    else partials.toDF("n", "sm", "mn", "mx", "s2", "x1")
  }

  /** [[dateHistogram]] over a FIELDED query (ES: aggs next to a
    * multi_match): the match set is the union over fields of each field's
    * own match set (per-field AND for mode=and — multi_match operator=and
    * means all terms within one field), one fielded
    * [[MultiSearcher.matchWalk]] over the fields' views. Doc values come
    * from the FIRST field's sidecar (all field indexes share the doc
    * space). Counts each doc once however many fields matched it.
    */
  def dateHistogramFielded(
      spark: SparkSession,
      fields: Seq[FieldedSearch.Field],
      queryTerms: Seq[String],
      mode: String,
      interval: String = "day",
      attrFilter: AttrPred = null,
      minShouldMatch: Int = 1
  ): DataFrame =
    aggregate(spark, Nil, queryTerms, mode, attrFilter, Nil, minShouldMatch,
      keyPattern = bucketPattern(interval), kwField = null, numField = null, numWidth = 0L,
      fields = FieldedSearch.fieldViews(spark, fields))
      .select(col("k1").as("bucket"), col("n").as("n_docs"))
      .orderBy("bucket")

  /** [[termsAgg]] over a FIELDED query — see [[dateHistogramFielded]]. */
  def termsAggFielded(
      spark: SparkSession,
      fields: Seq[FieldedSearch.Field],
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      minShouldMatch: Int = 1,
      kwField: String = "lang"
  ): DataFrame =
    aggregate(spark, Nil, queryTerms, mode, attrFilter, Nil, minShouldMatch,
      keyPattern = null, kwField = kwField, numField = null, numWidth = 0L,
      fields = FieldedSearch.fieldViews(spark, fields))
      .select(col("k1").as(kwField), col("n").as("n_docs"))
      .orderBy(desc("n_docs"), asc(kwField))

  /** The UTC bucket-key pattern of a date-histogram `interval`. */
  private def bucketPattern(interval: String): String = interval match {
    case "hour"  => "yyyyMMddHH"
    case "day"   => "yyyyMMdd"
    case "month" => "yyyyMM"
    case other   => throw new IllegalArgumentException(s"unknown interval $other")
  }

  /** The keyed bucket fold over the view's match walk. `keyPattern` null
    * → key by `kwField`; else key by UTC-formatted warc_ts. Returns a
    * (k1, k2, n, sm, mn, mx) frame — composite keys (terms × date) carry
    * the two components as SEPARATE tuple fields, never a delimited
    * string (a keyword value containing the delimiter would silently
    * corrupt the split — ADVICE r4); single-key aggs leave k2 = "". The
    * only exchange after the walk is the tiny (k1, k2 → Σ count) groupBy.
    */
  private def aggregate(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred,
      mustNot: Seq[String],
      minShouldMatch: Int,
      keyPattern: String,
      kwField: String,
      numField: String,
      numWidth: Long,
      kwField2: String = null, // composite keyword × keyword (ES multi_terms)
      metricField: String = null, // per-bucket (n,sum,min,max) over this numeric attr
      idAllow: Array[Long] = null, // sampler: SORTED segment-absolute id allow-list (single-segment callers only)
      fields: Seq[MultiSearcher] = Nil // a fielded query's views, first field first (segmentDirs unused)
  ): DataFrame = {
    import spark.implicits._
    val views = if (fields.nonEmpty) fields else Seq(new MultiSearcher(spark, segmentDirs))
    views.head
      .matchWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch, allow = idAllow,
        otherFields = views.tail) { s =>
        val fmt =
          if (keyPattern == null) null
          else java.time.format.DateTimeFormatter.ofPattern(keyPattern)
            .withZone(java.time.ZoneOffset.UTC)
        val reader = s.reader
        // resolve the field once per slice (loud on undeclared);
        // kwField + pattern together = composite (terms × date) keys
        val numIdx = if (numField != null) reader.numIndex(numField) else -1
        val kwIdx = if (numField == null && kwField != null) reader.kwIndex(kwField) else -1
        val kw2Idx = if (kwField2 != null) reader.kwIndex(kwField2) else -1
        val metIdx = if (metricField != null) reader.numIndex(metricField) else -1
        // value = (n, sum, min, max) of the metric attr; count-only
        // aggs leave the tail at (0, MaxValue, MinValue) and drop it
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Array[Long]]
        s.ids.foreach { id =>
          if (reader.seek(id)) {
            val k: (String, String) =
              if (numField != null)
                ((java.lang.Math.floorDiv(reader.numValue(numIdx), numWidth) * numWidth).toString, "")
              else if (kwField2 != null)
                (reader.kwValue(kwIdx), reader.kwValue(kw2Idx))
              else if (fmt != null && kwField != null)
                (reader.kwValue(kwIdx),
                  fmt.format(java.time.Instant.ofEpochMilli(reader.tsMillis)))
              else if (fmt == null) (reader.kwValue(kwIdx), "")
              else (fmt.format(java.time.Instant.ofEpochMilli(reader.tsMillis)), "")
            val acc = counts.getOrElseUpdate(k, Array(0L, 0L, Long.MaxValue, Long.MinValue))
            acc(0) += 1L
            if (metIdx >= 0) {
              val v = reader.numValue(metIdx)
              acc(1) += v
              if (v < acc(2)) acc(2) = v
              if (v > acc(3)) acc(3) = v
            }
          }
        }
        counts.iterator.map { case ((a, b), acc) => (a, b, acc(0), acc(1), acc(2), acc(3)) }
      }
      .toDF("k1", "k2", "n", "sm", "mn", "mx")
      .groupBy($"k1", $"k2")
      .agg(sum($"n").as("n"), sum($"sm").as("sm"),
        min($"mn").as("mn"), max($"mx").as("mx"))
  }
}
