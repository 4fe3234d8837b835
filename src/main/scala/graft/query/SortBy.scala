package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.AttrPred

/** Sort-by-field retrieval — THE canonical event-log read the reference
  * serves through Kibana: `bool` filter + `sort: [{warc_ts: desc}]` +
  * page (an event log is read newest-first far more often than
  * by-relevance; ES sorts on any doc-values field,
  * `ElasticSearchStorage.cs:208-233` provisions the date/keyword fields
  * for exactly this). Engine rendition: top-k matching docs ordered by a
  * DECLARED numeric sidecar attribute instead of `_score`.
  *
  * Scale shape (same discipline as ranked retrieval): the view's
  * unscored match walk ([[MultiSearcher.matchWalk]] — one exchange of
  * matched posting blocks by (segment, slice), leapfrog AND / counted
  * OR); each task streams each match's sort value from its OWN slice's
  * sidecar ([[graft.index.AttrSidecar.AttrReader]], monotone
  * O(1)-memory) and keeps a k-sized heap by (value, docId); the global
  * merge is nSlices·k rows. Filter context, must_not, tombstones, and
  * minimum_should_match compose exactly as in ranked retrieval.
  *
  * `searchAfter` — deep pagination in sort order: pass the previous
  * page's last (sortValue, docId); only docs strictly after it in
  * (value asc/desc, docId asc) order return, heaps stay k-sized at any
  * depth (the ES search_after contract on a sort field).
  */
object SortBy {

  def topKByAttr(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      field: String,
      k: Int,
      ascending: Boolean = false,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      searchAfter: (Long, Long) = null, // (sortValue, docId) of the last hit served
      metricFields: Seq[String] = Nil // ES top_metrics: extra numeric attrs per hit
  ): DataFrame =
    topKByAttrMulti(spark, Seq(indexDir), queryTerms, mode, field, k,
      ascending, attrFilter, mustNot, minShouldMatch, searchAfter,
      metricFields = metricFields)

  /** [[topKByAttr]] over a SEGMENT FAMILY — the streaming-ingest shape:
    * new segments commit continuously and users read newest-first across
    * all of them, no merge (ES sorting across its `{prefix}-*` indices).
    * Output docIDs are family-global (manifest-order base offsets, same
    * convention as [[MultiSearcher]]); each (segment, slice) task reads
    * its own segment's sidecar.
    *
    * `explicitBases`: global docID base per segment — pass them when
    * `segmentDirs` is a PRUNED subset of a larger family (time-bucket
    * pruning) so ids stay stable across selections; they are the view's
    * own `explicitBases`.
    *
    * `metricFields`: extra declared numeric attributes read for each KEPT
    * hit (the ES `top_metrics` agg — "the metrics at the docs with the
    * top sort values"): each metric rides the heap entry, so task memory
    * stays k·(2+nMetrics) longs and the sidecar is read once per match
    * via the same monotone cursor. Output grows one column per metric,
    * named after its field.
    */
  def topKByAttrMulti(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      field: String,
      k: Int,
      ascending: Boolean = false,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      searchAfter: (Long, Long) = null,
      explicitBases: Option[Seq[Long]] = None,
      metricFields: Seq[String] = Nil
  ): DataFrame = {
    import spark.implicits._
    val outCols = Seq("doc_id", "sort_value") ++ metricFields
    require(outCols.distinct == outCols, s"metric fields must be distinct, not 'doc_id'/'sort_value': $metricFields")
    // rank = position tuple in the requested order (smaller ranks first):
    // (value asc|desc, docId asc). The priority queue dequeues its MAX,
    // i.e. head = worst kept hit.
    val rankOrd: Ordering[(Long, Long, Array[Long])] =
      if (ascending) Ordering.by[(Long, Long, Array[Long]), (Long, Long)] { case (v, id, _) => (v, id) }
      else Ordering.by[(Long, Long, Array[Long]), (Long, Long)] { case (v, id, _) => (-v, id) }
    val localTopK = new MultiSearcher(spark, segmentDirs, explicitBases)
      .matchWalk(queryTerms, mode, attrFilter, mustNot, minShouldMatch) { s =>
        val reader = s.reader
        val numIdx = reader.numIndex(field)
        val mIdxs = metricFields.map(reader.numIndex).toArray // loud on undeclared
        val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long, Array[Long])](rankOrd)
        def beats(a: (Long, Long, Array[Long]), b: (Long, Long, Array[Long])): Boolean =
          rankOrd.compare(a, b) < 0 // a ranks strictly before b
        val afterKey = if (searchAfter == null) null else (searchAfter._1, searchAfter._2, null: Array[Long])
        s.ids.foreach { id =>
          if (reader.seek(id)) {
            // heap keys carry the FAMILY-GLOBAL id (base offset)
            val cand = (reader.numValue(numIdx), s.docBase + id, mIdxs.map(reader.numValue))
            // search_after: only hits strictly after the cursor
            if (afterKey == null || beats(afterKey, cand)) {
              if (heap.size < k) heap.enqueue(cand)
              else if (beats(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
            }
          }
        }
        heap.iterator.map { case (v, id, ms) => (id, v, ms) }
      }
      .toDF("doc_id", "sort_value", "m")

    localTopK
      .orderBy(if (ascending) asc("sort_value") else desc("sort_value"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id") +: col("sort_value") +: metricFields.zipWithIndex
        .map { case (f, i) => col("m")(i).as(f) }: _*)
  }
}
