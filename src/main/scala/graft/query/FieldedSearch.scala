package graft.query

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, IndexBuilder}
import graft.query.MultiSearcher.{SegCtx, TermBlocks}
import graft.query.Search.QueryHit

/** Multi-field text search — the reference provisions THREE analyzed text
  * fields side by side (comment/data/dataPresentation,
  * `ElasticSearchStorage.cs:217,227,231`); ES queries them via
  * `multi_match` with per-field boosts. Engine rendition: a field is an
  * index over a column (Lucene likewise keeps per-field postings fully
  * separate — field is part of the term key), queried as a
  * [[MultiSearcher]] view: a [[Field]] is a one-segment view, a
  * [[FieldFamily]] a view over its segments. All fields share the docID
  * space (docIDs derive from the url sort rank, independent of which
  * column was analyzed) and the slice layout — checked per segment in
  * [[views]], which every entry point here and every fielded
  * [[Facets]] aggregation passes through — so one (segment, slice) task
  * of [[MultiSearcher.walkSlices]] sees every field of its doc range.
  *
  * Per-field N, avgdl, df and the prefix/fuzzy/wildcard/regexp expansions
  * come from each field's view (its memo answers the expansion's dfs);
  * the one-segment rules keep single-index scores and block bounds.
  *
  * Scoring = ES `most_fields`: score(d) = Σ_f boost_f · Σ_t
  * idf_f(t)·impact(tf_{f,t,d}, dl_f(d), avgdl_f) — each field has its own
  * df/avgdl/doc_len (exactly what ES computes per field). A doc is a
  * candidate when ANY (field, term) matches (multi_match's default OR).
  * Sum order is fields-outer × terms-inner, mirrored by
  * NaiveBm25.fieldedTopK and the DuckDB oracle.
  *
  * Scale shape: one pushdown scan of every field's query-term blocks,
  * each tagged with its field; ONE exchange groups them by (segment,
  * slice); per-slice WAND over |fields|·|terms| iterators; (Σ nSlices)·k
  * merge. Filter context and tombstones come from the FIRST field's view
  * (one logical delete per doc, the shared-doc-space convention).
  * Building per-field indexes costs one column-pruned pass per field over
  * the columnar source — the parquet scan reads only that field's column.
  */
object FieldedSearch {

  final case class Field(name: String, indexDir: String, boost: Double)

  /** One field = a SEGMENT FAMILY (multi-segment fielded search — ES
    * `multi_match` across its `{prefix}-*` indices in one query). All
    * families must share the segmentation of the doc space (segment i
    * holds the same docs in every field), so one (seg, slice) task
    * merges every field's iterators for its doc range and global ids use
    * the first family's base sequence.
    */
  final case class FieldFamily(name: String, segmentDirs: Seq[String], boost: Double)

  /** The views of named fields, in order, once their layouts agree.
    * Slices are doc-id ranges, so a (segment, slice) task holds all of a
    * doc's fields only when every field has as many segments as the
    * first and, per segment, the same n_docs and nSlices — else a doc's
    * score would be split across tasks, so a mismatch fails here, naming
    * the field.
    */
  private[query] def views(named: Seq[(String, MultiSearcher)]): Seq[MultiSearcher] = {
    require(named.nonEmpty, "no fields")
    val layout = named.head._2.layout
    named.tail.foreach { case (name, v) =>
      val l = v.layout
      require(l.size == layout.size, s"field '$name': every field family must have as many segments as the first")
      l.zip(layout).zipWithIndex.foreach { case (((n, s), (n0, s0)), si) =>
        require(n == n0, s"field '$name': segment $si docs differ — fields must share the docID space")
        require(s == s0, s"field '$name': segment $si slices differ — fields must share the slice layout")
      }
    }
    named.map(_._2)
  }

  private[query] def fieldViews(spark: SparkSession, fields: Seq[Field]): Seq[MultiSearcher] =
    views(fields.map(f => f.name -> new MultiSearcher(spark, Seq(f.indexDir))))

  /** Filter context = ES bool-query filter clause next to the multi_match,
    * evaluated against the FIRST field's doc attributes (all field indexes
    * share the docID space and attributes): `attrFilter` streams the first
    * field's slice sidecar node-locally (no doc-id exchange); `docFilter`
    * (nullable Column) is the ad-hoc allow-list path.
    *
    * `perFieldTerms` (nullable): per-field allowed term subset — the
    * fielded prefix/fuzzy rewrites expand PER FIELD dictionary (ES
    * multi_match rewrites each field against its own terms), so a term
    * may participate in one field and not another; masked-out (field,
    * term) pairs neither score nor make docs candidates.
    */
  def topK(
      spark: SparkSession,
      fields: Seq[Field],
      queryTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      perFieldTerms: Seq[Set[String]] = null
  ): DataFrame =
    mostFields(fieldViews(spark, fields), fields.map(_.boost), queryTerms, k, docFilter, attrFilter,
      perFieldTerms)

  /** Fielded most_fields top-k over segment families: per-field global
    * stats (N, avgdl_f, df_f summed over segments) and WAND bounds from
    * each family's view — the [[topK]] contract. `attrFilter` streams the
    * FIRST field's per-segment sidecar (shared doc space).
    */
  def topKMulti(
      spark: SparkSession,
      fields: Seq[FieldFamily],
      queryTerms: Seq[String],
      k: Int,
      attrFilter: AttrPred = null
  ): DataFrame =
    mostFields(views(fields.map(f => f.name -> new MultiSearcher(spark, f.segmentDirs))), fields.map(_.boost),
      queryTerms, k, null, attrFilter, null)

  /** A compiled most_fields query: weight = boost_f · idf_f(t) per (field,
    * term).
    */
  private final case class FieldsQ(terms: Array[String], weights: Array[Array[Double]], k: Int)

  private def mostFields(
      vs: Seq[MultiSearcher],
      boosts: Seq[Double],
      queryTerms: Seq[String],
      k: Int,
      docFilter: Column,
      attrFilter: AttrPred,
      perFieldTerms: Seq[Set[String]]
  ): DataFrame = {
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    require(perFieldTerms == null || perFieldTerms.size == vs.size,
      "perFieldTerms must align with fields")
    val terms = queryTerms.distinct.toArray
    // per-field df of the terms that participate in the field (all of
    // them without a rewrite); a rewrite's dfs are memoized
    val dfs = vs.indices.map(fi =>
      vs(fi).dfOf(if (perFieldTerms == null) terms.toSeq else terms.filter(perFieldTerms(fi)).toSeq))
    if (dfs.forall(_.isEmpty)) return vs.head.none
    val weights = Array.tabulate(vs.size)(fi =>
      terms.map(t => boosts(fi) * NaiveBm25.idf(vs(fi).nDocs, dfs(fi).getOrElse(t, 0L))))
    val spark = vs.head.spark
    import spark.implicits._
    // the participation mask: blocks of masked-out or absent (field, term)
    // pairs never leave the scan
    val scan = vs.indices.map(fi => vs(fi) -> terms.filter(dfs(fi).contains).toSeq)
    vs.head.topOf(vs.head.walkSlices(scan, docFilter, attrFilter, FieldsQ(terms, weights, k))(
      mostFieldsWalk), k)
  }

  /** Block-max WAND top-k of one (segment, slice) over every (field,
    * term) cursor, fields outer × terms inner (the scoring contract).
    */
  private def mostFieldsWalk(c: SegCtx[FieldsQ], seg: Int, slice: Int, fields: Array[TermBlocks],
                             base: () => DocFilter): Iterator[QueryHit] = {
    val q = c.q
    val iters = for {
      fi <- fields.indices
      ti <- q.terms.indices
      rows <- fields(fi).get(q.terms(ti))
    } yield c.iter(rows, fi * q.terms.length + ti, q.weights(fi)(ti), fi)
    c.global(seg, BlockMaxWand.or(iters.toArray, q.k, c.filter(seg, slice, base(), Array.empty)))
  }

  /** Fielded term-level rewrite (`multi_match` carries them): `expand`
    * runs against EACH field's own dictionary (df-desc cap per field — a
    * term hot in the title need not make the body's cap and vice versa),
    * then one most_fields WAND over the union with per-(field, term)
    * masks: a rewrite participates only in the field whose dictionary
    * produced it. Scoring stays scoring_boolean (per-expansion per-field
    * idf), composing with filter context.
    */
  private def rewriteTopK(spark: SparkSession, fields: Seq[Field], k: Int, docFilter: Column,
                          attrFilter: AttrPred)(expand: MultiSearcher => Seq[String]): DataFrame = {
    val vs = fieldViews(spark, fields)
    val perField = vs.map(expand(_).toSet)
    val union = perField.reduce(_ ++ _).toSeq.sorted
    if (union.isEmpty) vs.head.none
    else mostFields(vs, fields.map(_.boost), union, k, docFilter, attrFilter, perField)
  }

  /** Fielded ES prefix query: a per-field dictionary range read, see
    * [[rewriteTopK]].
    */
  def prefixTopK(
      spark: SparkSession,
      fields: Seq[Field],
      prefix: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame = {
    require(prefix.nonEmpty, "empty prefix")
    rewriteTopK(spark, fields, k, docFilter, attrFilter)(
      _.expand(col("term").startsWith(prefix), maxExpansions))
  }

  /** Fielded ES fuzzy query — `multi_match` accepts `fuzziness`
    * (`ElasticSearchStorage.cs` fields are queried together in practice):
    * per-field dictionary edit-distance expansion (codegen levenshtein +
    * length pre-cut), see [[rewriteTopK]].
    */
  def fuzzyTopK(
      spark: SparkSession,
      fields: Seq[Field],
      term: String,
      k: Int,
      maxEdits: Int = 1,
      maxExpansions: Int = 64,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame =
    rewriteTopK(spark, fields, k, docFilter, attrFilter)(_.expandFuzzyTerms(term, maxEdits, maxExpansions))

  /** Fielded ES wildcard query — `query_string` over multiple fields
    * carries `*`/`?` patterns (`server:web-*` is a Kibana day-one query):
    * the pattern compiles to an anchored regex with its literal prefix
    * ([[Search.wildcardToRegex]]) and expands like [[regexpTopK]].
    */
  def wildcardTopK(
      spark: SparkSession,
      fields: Seq[Field],
      pattern: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame =
    rewriteTopK(spark, fields, k, docFilter, attrFilter)(_.expandPatternTerms(pattern, maxExpansions))

  /** Fielded ES regexp query: the anchored regex expands against EACH
    * field's own dictionary (codegen `rlike` scan, `prefixHint` pushdown
    * range pre-cut), see [[rewriteTopK]].
    */
  def regexpTopK(
      spark: SparkSession,
      fields: Seq[Field],
      regex: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      prefixHint: String = ""
  ): DataFrame =
    rewriteTopK(spark, fields, k, docFilter, attrFilter)(_.expandRegex(regex, prefixHint, maxExpansions))

  /** A compiled fielded phrase: per field its positional idf sum (0 when
    * the field lacks a phrase term) and boost.
    */
  private final case class FieldsPhraseQ(
      shape: MultiSearcher.PhraseShape, idfSums: Array[Double], boosts: Array[Double], k: Int)

  /** Fielded EXACT-PHRASE top-k (ES `most_fields` over `match_phrase`
    * clauses — the composition ES offers freely in one bool query):
    * score(d) = Σ_f boost_f · idfSum_f · impact(freq_f(d), dl_f(d),
    * avgdl_f), summed in field order; candidates = phrase occurs in ≥1
    * field; a field missing any phrase term corpus-wide contributes
    * nothing (Lucene PhraseQuery semantics). Mirrored exactly by
    * NaiveBm25.fieldedPhraseTopK and the DuckDB oracle.
    *
    * Scale shape: same as topK — each slice task streams phrase matches
    * per field (leapfrog + positional verify) and merges per-doc
    * contributions before its local top-k cut.
    */
  def phraseTopK(
      spark: SparkSession,
      fields: Seq[Field],
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame = {
    require(fields.nonEmpty && phraseTerms.nonEmpty)
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    import spark.implicits._
    val vs = fieldViews(spark, fields)
    val shape = MultiSearcher.phraseShape(phraseTerms)
    // per-field idfSum over phrase POSITIONS; 0 when any term is missing
    // from the field (that field then matches nothing)
    val idfSums = vs.map { v =>
      val dfs = v.dfOf(shape.terms.toSeq)
      if (shape.terms.exists(t => !dfs.contains(t))) 0.0
      else phraseTerms.map(t => NaiveBm25.idf(v.nDocs, dfs(t))).sum
    }.toArray
    if (idfSums.forall(_ == 0.0)) return vs.head.none
    val scan = vs.indices.map(fi => vs(fi) -> (if (idfSums(fi) > 0.0) shape.terms.toSeq else Nil))
    vs.head.topOf(vs.head.walkSlices(scan, docFilter, attrFilter,
      FieldsPhraseQ(shape, idfSums, fields.map(_.boost).toArray, k))(phraseWalk), k)
  }

  /** Fielded phrase top-k of one (segment, slice): the per-field phrase
    * match streams merged per doc, summed in FIELD ORDER (the scoring
    * contract), each field with a fresh monotone filter.
    */
  private def phraseWalk(c: SegCtx[FieldsPhraseQ], seg: Int, slice: Int, fields: Array[TermBlocks],
                         base: () => DocFilter): Iterator[QueryHit] = {
    val q = c.q
    val streams = fields.indices.filter(fi => q.idfSums(fi) > 0.0 && q.shape.terms.forall(fields(fi).contains))
      .map { fi =>
        BlockMaxWand.phraseMatches(q.shape.terms.map(t => c.iter(fields(fi)(t), 0, 0.0, fi)), q.shape.offsets,
          c.filter(seg, slice, base(), Array.empty))
          .map { case (d, freq, dl) => (d, q.boosts(fi) * q.idfSums(fi) * IndexBuilder.impact(freq, dl, c.avgDls(fi))) }
      }
    val top = new BlockMaxWand.TopK(q.k)
    MultiSearcher.merge(Nil, streams, Nil).foreach { case (doc, s) => top.offer(BlockMaxWand.Hit(doc, s)) }
    c.global(seg, top.result)
  }

  /** ES `combined_fields` (Lucene CombinedFieldQuery / BM25F): the fields
    * are scored as ONE virtual field — per-term combined
    * tf′(t,d) = Σ_f w_f·tf_f(t,d), combined length dl′(d) = Σ_f w_f·dl_f(d),
    * avgdl′ = Σ_f w_f·avgdl_f (means are linear), and ONE idf per term
    * from the merged stats (df′(t) = max_f df_f(t), Lucene's
    * CombinedFieldQuery term-stats merge, clamped to n) — unlike
    * most_fields ([[topK]]) a term hot in every field is NOT
    * double-idf-counted.
    *
    * Plan shape (deliberately DECLARATIVE, not WAND): the per-field
    * block-max bounds do not soundly bound a cross-field combined
    * impact, so instead of hand-pruning the fields' walk decodes ONLY
    * the query terms' posting blocks and emits (doc, term, tf′) rows —
    * the same magnitude as any scoring walk's candidate set; its filter
    * drops tombstoned docs (deletes live on the first field's index) —
    * and Catalyst aggregates. The per-doc score folds in ASCENDING TERM
    * ORDER via aggregate(sort_array(collect_list(...))) so float sums
    * are deterministic and SQL-mirrorable (a bare sum() order is
    * partition-layout-dependent).
    */
  def combinedFieldsTopK(
      spark: SparkSession,
      fields: Seq[Field],
      queryTerms: Seq[String],
      k: Int
  ): DataFrame = {
    import spark.implicits._
    val vs = fieldViews(spark, fields)
    val terms = queryTerms.distinct
    val n = vs.head.nDocs
    val avgdlC = fields.zip(vs).map { case (f, v) => f.boost * v.avgDl }.sum
    // merged term stats: one dictionary read per field
    val perFieldDf = vs.map(_.dfOf(terms))
    val dfc: Map[String, Long] = terms
      .map(t => t -> perFieldDf.map(_.getOrElse(t, 0L)).max)
      .toMap.filter(_._2 > 0L)
    if (dfc.isEmpty) return vs.head.none
    val present = terms.filter(dfc.contains)
    val idfs = present.map(t => t -> NaiveBm25.idf(n, math.min(dfc(t), n))).toDF("term", "idf")

    val candidates = vs.head.walkSlices(vs.map(_ -> present), null, null, fields.map(_.boost).toArray)(
      weightedTfWalk).toDF("doc_id", "term", "tfc")

    // combined per-field-weighted doc length from each field's stored
    // docs table (column-pruned: only doc_id + doc_len are read) —
    // restricted to CANDIDATE docs BEFORE the aggregation (r6, guide
    // §2.3): the unrestricted shape aggregated doc lengths over the
    // whole corpus just to inner-join ~candidate rows afterwards, a
    // full-corpus shuffle a top-k query must not pay at scale. The
    // candidate-id frame is bare 8-byte ids (bounded by the query
    // terms' postings), so AQE broadcasts it under the usual regimes.
    val candIds = candidates.select($"doc_id").distinct()
    val dlc = fields.map { f =>
      IndexBuilder.readDocsTable(spark, f.indexDir)
        .select($"doc_id", ($"doc_len".cast("double") * f.boost).as("wdl"))
    }.reduce(_ unionByName _)
      .join(candIds, Seq("doc_id"), "left_semi")
      .groupBy($"doc_id").agg(sum($"wdl").as("dlc"))

    candidates
      .join(dlc, Seq("doc_id"))
      .join(broadcast(idfs), Seq("term"))
      .withColumn("s",
        $"idf" * $"tfc" / ($"tfc" + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * $"dlc" / lit(avgdlC))))
      .groupBy($"doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct($"term", $"s"))),
        lit(0.0),
        (acc, x) => acc + x.getField("s")).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** (doc, term, Σ_f w_f·tf_f) of one (segment, slice), fields summed in
    * order; live docs only.
    */
  private def weightedTfWalk(c: SegCtx[Array[Double]], seg: Int, slice: Int, fields: Array[TermBlocks],
                             base: () => DocFilter): Iterator[(Long, String, Double)] =
    fields.iterator.flatMap(_.keys).distinct.flatMap { t =>
      val acc = new mutable.LongMap[Double]
      fields.indices.foreach(fi => fields(fi).get(t).foreach { rows =>
        val it = c.iter(rows, 0, 0.0, fi)
        val f = c.filter(seg, slice, base(), Array.empty)
        while (!it.exhausted) {
          val doc = it.doc
          if (f == null || f.contains(doc)) acc.update(doc, acc.getOrElse(doc, 0.0) + c.q(fi) * it.tf)
          it.next()
        }
      })
      acc.iterator.map { case (doc, tfc) => (c.bases(seg) + doc, t, tfc) }
    }
}
