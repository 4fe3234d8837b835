package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, AttrSidecar, IndexBuilder}
import graft.query.BlockMaxWand.{BlockRef, FilterIter, PostingIter}

/** Multi-field text search — the reference provisions THREE analyzed text
  * fields side by side (comment/data/dataPresentation,
  * `ElasticSearchStorage.cs:217,227,231`); ES queries them via
  * `multi_match` with per-field boosts. Engine rendition: a field is an
  * index over a column (Lucene likewise keeps per-field postings fully
  * separate — field is part of the term key). All field indexes share the
  * docID space (docIDs derive from the url sort rank, independent of
  * which column was analyzed) and the same slice layout, so one WAND task
  * can merge iterators from every field of its doc range.
  *
  * Scoring = ES `most_fields`: score(d) = Σ_f boost_f · Σ_t
  * idf_f(t)·impact(tf_{f,t,d}, dl_f(d), avgdl_f) — each field has its own
  * df/avgdl/doc_len (exactly what ES computes per field). A doc is a
  * candidate when ANY (field, term) matches (multi_match's default OR).
  * Sum order is fields-outer × terms-inner, mirrored by
  * NaiveBm25.fieldedTopK and the DuckDB oracle.
  *
  * Scale shape: per-field posting scans are pushdown-filtered to the
  * query terms; ONE shuffle co-locates all fields' matched blocks by
  * slice; per-slice WAND over |fields|·|terms| iterators; nSlices·k merge.
  * Building per-field indexes costs one column-pruned pass per field over
  * the columnar source — the parquet scan reads only that field's column.
  */
object FieldedSearch {

  final case class Field(name: String, indexDir: String, boost: Double)

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
  ): DataFrame = {
    import spark.implicits._
    require(fields.nonEmpty)
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    require(perFieldTerms == null || perFieldTerms.size == fields.size,
      "perFieldTerms must align with fields")
    val terms = queryTerms.distinct

    val stats = fields.map(f => IndexBuilder.readStats(spark, f.indexDir))
    val n = stats.head.n_docs
    require(stats.forall(_.n_docs == n),
      "field indexes must share the docID space (same corpus, same urls)")
    val metas = fields.map(f => IndexBuilder.readMeta(f.indexDir))
    require(metas.map(_.nSlices).distinct.size == 1,
      "field indexes must share the slice layout")
    val avgDls = stats.map(s => if (s.avg_dl > 0) s.avg_dl else 1.0).toArray

    // per-field df for the query terms (tiny pushdown reads)
    val dfs: Array[Map[String, Long]] = fields.map { f =>
      IndexBuilder.readTerms(spark, f.indexDir)
        .where($"term".isin(terms: _*))
        .collect().map(t => t.term -> t.doc_freq).toMap
    }.toArray
    if (!dfs.exists(_.nonEmpty))
      return spark.emptyDataset[Search.QueryHit].toDF()

    // weight per (field, term) = boost · idf_field(term); 0-df pairs absent
    val qTerms = terms.toArray
    val boosts = fields.map(_.boost).toArray
    val weights: Array[Array[Double]] = Array.tabulate(fields.size) { fi =>
      qTerms.map(t => boosts(fi) * NaiveBm25.idf(n, dfs(fi).getOrElse(t, 0L)))
    }
    // per-(field, term) participation mask (all-true without a rewrite)
    val mask: Array[Array[Boolean]] = Array.tabulate(fields.size) { fi =>
      qTerms.map(t => perFieldTerms == null || perFieldTerms(fi).contains(t))
    }
    val bCtx = spark.sparkContext.broadcast((qTerms, weights, avgDls, mask))

    val blocks = fields.zipWithIndex
      .map { case (f, fi) =>
        // per-field pushdown follows the field's own rewrite set: blocks
        // of masked-out (field, term) pairs never leave the scan
        val fTerms = if (perFieldTerms == null) terms else terms.filter(perFieldTerms(fi))
        IndexBuilder.readPostings(spark, f.indexDir)
          .where($"term".isin(fTerms: _*))
          .select(
            lit(fi).as("fld"), $"slice", $"term", $"block_id", $"doc_id_min",
            $"doc_id_max", $"count", $"deltas", $"tfs", $"dls", $"poss", $"max_impact"
          )
      }
      .reduce(_ unionByName _)
      .as[(Int, Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Double)]

    // tombstones live on the FIRST field's index (one logical delete per
    // doc — the shared-doc-space convention, same as the attr sidecar)
    val tomb = graft.index.Tombstones.handle(fields.head.indexDir)
    def wand(slice: Int,
             rows: Iterator[(Int, Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Double)],
             base: DocFilter): Iterator[Search.QueryHit] = {
      val (ts, ws, avgs, msk) = bCtx.value
      val byFieldTerm = rows.toArray.groupBy(r => (r._1, r._3))
      // iterator order: fields outer × terms inner (the scoring contract)
      val iters = (for {
        fi <- avgs.indices.iterator
        ti <- ts.indices.iterator
        if msk(fi)(ti)
        rs <- byFieldTerm.get((fi, ts(ti))).iterator
      } yield {
        val refs = rs
          .sortBy(r => (r._5, r._4))
          .map(r => BlockRef(r._5, r._6, r._7, r._8, r._9, r._10, r._11, r._12))
        new PostingIter(fi * ts.length + ti, ws(fi)(ti), refs, avgs(fi))
      }).toArray
      val filter = if (tomb == null) base else tomb.compose(slice, base)
      BlockMaxWand.or(iters, k, filter)
        .iterator.map(h => Search.QueryHit(h.docId, h.score))
    }

    val attrDir = fields.head.indexDir
    val localTopK =
      if (docFilter == null && attrFilter == null)
        blocks
          .groupByKey(_._2) // slice — ONE task sees every field of its doc range
          .flatMapGroups { (slice, rows) => wand(slice, rows, null) }
      else if (attrFilter != null) {
        val pred = attrFilter
        blocks
          .groupByKey(_._2)
          .flatMapGroups { (slice, rows) =>
            val cur = AttrSidecar.openCursor(attrDir, slice, pred)
            try wand(slice, rows, cur)
            finally cur.close()
          }
      } else {
        val filterIds = IndexBuilder.withDocsTable(spark, fields.head.indexDir)(_.where(docFilter))
          .select($"slice".cast("int"), $"doc_id")
          .as[(Int, Long)]
        blocks
          .groupByKey(_._2)
          .cogroup(filterIds.groupByKey(_._1)) { (slice, rows, fids) =>
            val allow = fids.map(_._2).toArray
            if (allow.isEmpty) Iterator.empty
            else {
              java.util.Arrays.sort(allow)
              wand(slice, rows, new FilterIter(allow))
            }
          }
      }

    localTopK.toDF().orderBy(desc("score"), asc("doc_id")).limit(k)
  }

  /** Fielded ES prefix query (`multi_match` carries term-level rewrites):
    * the prefix expands against EACH field's own dictionary (range read,
    * df-desc cap per field — a term hot in the title need not be in the
    * body's cap and vice versa), then one most_fields WAND over the union
    * with per-(field, term) masks: a rewrite participates only in the
    * field whose dictionary produced it. Scoring stays scoring_boolean
    * (per-expansion per-field idf), composing with filter context.
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
    import spark.implicits._
    require(prefix.nonEmpty, "empty prefix")
    val perField = fields.map { f =>
      IndexBuilder.readTerms(spark, f.indexDir)
        .where($"term".startsWith(prefix))
        .orderBy(desc("doc_freq"), asc("term"))
        .limit(maxExpansions)
        .collect().map(_.term).toSet
    }
    val union = perField.reduce(_ ++ _).toSeq.sorted
    if (union.isEmpty) return spark.emptyDataset[Search.QueryHit].toDF()
    topK(spark, fields, union, k, docFilter, attrFilter, perFieldTerms = perField)
  }

  /** Fielded ES fuzzy query — `multi_match` accepts `fuzziness`
    * (`ElasticSearchStorage.cs` fields are queried together in practice):
    * per-field dictionary edit-distance expansion (codegen levenshtein +
    * length pre-cut, df-desc cap per field), then the same masked
    * most_fields WAND as [[prefixTopK]].
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
  ): DataFrame = {
    import spark.implicits._
    require(term.nonEmpty, "empty term")
    require(maxEdits >= 0 && maxEdits <= 2, "ES caps fuzziness at 2 edits")
    val perField = fields.map { f =>
      IndexBuilder.readTerms(spark, f.indexDir)
        .where(abs(length($"term") - lit(term.length)) <= maxEdits)
        .where(levenshtein($"term", lit(term)) <= maxEdits)
        .orderBy(desc("doc_freq"), asc("term"))
        .limit(maxExpansions)
        .collect().map(_.term).toSet
    }
    val union = perField.reduce(_ ++ _).toSeq.sorted
    if (union.isEmpty) return spark.emptyDataset[Search.QueryHit].toDF()
    topK(spark, fields, union, k, docFilter, attrFilter, perFieldTerms = perField)
  }

  /** Fielded ES wildcard query — `query_string` over multiple fields
    * carries `*`/`?` patterns (`server:web-*` is a Kibana day-one query):
    * the pattern compiles once ([[Search.wildcardToRegex]]) and expands
    * against EACH field's dictionary via [[regexpTopK]]'s per-field
    * anchored-regex scan with the literal-prefix pushdown pre-cut.
    */
  def wildcardTopK(
      spark: SparkSession,
      fields: Seq[Field],
      pattern: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame = {
    val (regex, prefix) = Search.wildcardToRegex(pattern)
    regexpTopK(spark, fields, regex, k, maxExpansions, docFilter, attrFilter,
      prefixHint = prefix)
  }

  /** Fielded ES regexp query: the anchored regex expands against EACH
    * field's own dictionary (codegen `rlike` scan, `prefixHint` pushdown
    * range pre-cut, df-desc cap PER FIELD — a term hot in the title need
    * not make the body's cap and vice versa), then one most_fields WAND
    * over the union with per-(field, term) participation masks — the
    * same expansion + mask machinery as [[prefixTopK]]/[[fuzzyTopK]].
    * Scoring stays scoring_boolean (per-expansion per-field idf).
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
  ): DataFrame = {
    import spark.implicits._
    require(regex.nonEmpty, "empty regex")
    val perField = fields.map { f =>
      val base = IndexBuilder.readTerms(spark, f.indexDir)
      val cut = if (prefixHint.isEmpty) base else base.where($"term".startsWith(prefixHint))
      cut
        .where($"term".rlike(s"^(?:$regex)$$"))
        .orderBy(desc("doc_freq"), asc("term"))
        .limit(maxExpansions)
        .collect().map(_.term).toSet
    }
    val union = perField.reduce(_ ++ _).toSeq.sorted
    if (union.isEmpty) return spark.emptyDataset[Search.QueryHit].toDF()
    topK(spark, fields, union, k, docFilter, attrFilter, perFieldTerms = perField)
  }

  /** Fielded EXACT-PHRASE top-k (ES `most_fields` over `match_phrase`
    * clauses — the composition ES offers freely in one bool query):
    * score(d) = Σ_f boost_f · idfSum_f · impact(freq_f(d), dl_f(d),
    * avgdl_f), summed in field order; candidates = phrase occurs in ≥1
    * field; a field missing any phrase term corpus-wide contributes
    * nothing (Lucene PhraseQuery semantics). Mirrored exactly by
    * NaiveBm25.fieldedPhraseTopK and the DuckDB oracle.
    *
    * Scale shape: same as topK — one shuffle keys all fields' matched
    * blocks by slice; each slice task enumerates phrase matches per field
    * (leapfrog + positional verify) and merges per-doc contributions
    * before its local top-k cut (per-field matches materialize per slice;
    * phrase selectivity keeps that small).
    */
  def phraseTopK(
      spark: SparkSession,
      fields: Seq[Field],
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: graft.index.AttrPred = null
  ): DataFrame = {
    import spark.implicits._
    require(fields.nonEmpty && phraseTerms.nonEmpty)
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    val distinctTerms = phraseTerms.distinct
    val offsets: Array[Array[Int]] = distinctTerms.map { t =>
      phraseTerms.zipWithIndex.collect { case (pt, i) if pt == t => i }.toArray
    }.toArray

    val stats = fields.map(f => IndexBuilder.readStats(spark, f.indexDir))
    val n = stats.head.n_docs
    require(stats.forall(_.n_docs == n), "field indexes must share the docID space")
    require(fields.map(f => IndexBuilder.readMeta(f.indexDir).nSlices).distinct.size == 1,
      "field indexes must share the slice layout")
    val avgDls = stats.map(s => if (s.avg_dl > 0) s.avg_dl else 1.0).toArray
    // per-field idfSum over phrase POSITIONS; 0 when any term is missing
    // from the field (that field then matches nothing)
    val idfSums: Array[Double] = fields.zipWithIndex.map { case (f, fi) =>
      val dfs = IndexBuilder.readTerms(spark, f.indexDir)
        .where($"term".isin(distinctTerms: _*))
        .collect().map(t => t.term -> t.doc_freq).toMap
      if (distinctTerms.exists(t => !dfs.contains(t))) 0.0
      else phraseTerms.map(t => NaiveBm25.idf(n, dfs(t))).sum
    }.toArray
    if (idfSums.forall(_ == 0.0)) return spark.emptyDataset[Search.QueryHit].toDF()
    val boosts = fields.map(_.boost).toArray
    val bCtx = spark.sparkContext.broadcast((distinctTerms.toArray, offsets, idfSums, boosts, avgDls))

    val blocks = fields.zipWithIndex
      .filter { case (_, fi) => idfSums(fi) > 0.0 }
      .map { case (f, fi) =>
        IndexBuilder.readPostings(spark, f.indexDir)
          .where($"term".isin(distinctTerms: _*))
          .select(
            lit(fi).as("fld"), $"slice", $"term", $"block_id", $"doc_id_min",
            $"doc_id_max", $"count", $"deltas", $"tfs", $"dls", $"poss", $"max_impact"
          )
      }
      .reduce(_ unionByName _)
      .as[(Int, Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Double)]

    val tomb = graft.index.Tombstones.handle(fields.head.indexDir)
    def run(slice: Int,
            rows: Iterator[(Int, Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Double)],
            filterOf: () => DocFilter): Iterator[Search.QueryHit] = {
      val (qTerms, offs, sums, bst, avgs) = bCtx.value
      val byField = rows.toArray.groupBy(_._1)
      // per-doc sums accumulate in FIELD ORDER (the scoring contract)
      val acc = new scala.collection.mutable.LongMap[Double]
      avgs.indices.foreach { fi =>
        if (sums(fi) > 0.0) byField.get(fi).foreach { rs =>
          val byTerm = rs.groupBy(_._3)
          if (qTerms.forall(byTerm.contains)) {
            val iters = qTerms.map { t =>
              val refs = byTerm(t)
                .sortBy(r => (r._5, r._4))
                .map(r => BlockRef(r._5, r._6, r._7, r._8, r._9, r._10, r._11, r._12))
              new PostingIter(0, 0.0, refs, avgs(fi))
            }
            val f0 = filterOf() // fresh monotone cursor per field pass
            val f = if (tomb == null) f0 else tomb.compose(slice, f0)
            try {
              BlockMaxWand.phraseMatches(iters, offs, f).foreach { case (doc, freq, dl) =>
                val sc = bst(fi) * sums(fi) *
                  IndexBuilder.impact(freq, dl, avgs(fi))
                acc.update(doc, acc.getOrElse(doc, 0.0) + sc)
              }
            } finally f0 match {
              case c: AutoCloseable => c.close()
              case _ =>
            }
          }
        }
      }
      acc.toArray.sortBy { case (doc, s) => (-s, doc) }.take(k)
        .iterator.map { case (doc, s) => Search.QueryHit(doc, s) }
    }

    val attrDir = fields.head.indexDir
    val localTopK =
      if (docFilter == null && attrFilter == null)
        blocks.groupByKey(_._2).flatMapGroups { (slice, rows) => run(slice, rows, () => null) }
      else if (attrFilter != null) {
        val pred = attrFilter
        blocks.groupByKey(_._2).flatMapGroups { (slice, rows) =>
          run(slice, rows, () => AttrSidecar.openCursor(attrDir, slice, pred))
        }
      } else {
        val filterIds = IndexBuilder.withDocsTable(spark, attrDir)(_.where(docFilter))
          .select($"slice".cast("int"), $"doc_id")
          .as[(Int, Long)]
        blocks
          .groupByKey(_._2)
          .cogroup(filterIds.groupByKey(_._1)) { (slice, rows, fids) =>
            val allow = fids.map(_._2).toArray
            if (allow.isEmpty) Iterator.empty
            else {
              java.util.Arrays.sort(allow)
              run(slice, rows, () => new FilterIter(allow))
            }
          }
      }

    localTopK.toDF().orderBy(desc("score"), asc("doc_id")).limit(k)
  }

  /** One field = a SEGMENT FAMILY (multi-segment fielded search — ES
    * `multi_match` across its `{prefix}-*` indices in one query). All
    * families must share the segmentation of the doc space (segment i
    * holds the same docs in every field — per-segment n_docs asserted),
    * so one (seg, slice) task merges every field's iterators for its doc
    * range and global ids use one base sequence.
    */
  final case class FieldFamily(name: String, segmentDirs: Seq[String], boost: Double)

  /** Fielded most_fields top-k over segment families; per-field global
    * stats (N, avgdl_f, df_f summed over segments), WAND bounds re-derived
    * from the avgdl-independent max_tf/min_dl at each field's global
    * avgdl (exact-at-own-avgdl stored bounds don't transfer — same rule
    * as MultiSearcher). `attrFilter` streams the FIRST field's per-segment
    * sidecar (shared doc space).
    */
  def topKMulti(
      spark: SparkSession,
      fields: Seq[FieldFamily],
      queryTerms: Seq[String],
      k: Int,
      attrFilter: graft.index.AttrPred = null
  ): DataFrame = {
    import spark.implicits._
    require(fields.nonEmpty)
    val nSegs = fields.head.segmentDirs.size
    require(fields.forall(_.segmentDirs.size == nSegs),
      "every field family must have the same number of segments")
    val terms = queryTerms.distinct

    // per (field, seg) stats; segmentation shared → one base sequence
    val segStats = fields.map(_.segmentDirs.map(IndexBuilder.readStats(spark, _)))
    (0 until nSegs).foreach { si =>
      require(segStats.map(_(si).n_docs).distinct.size == 1,
        s"segment $si docs differ across fields — families must share the segmentation")
    }
    val bases = segStats.head.map(_.n_docs).scanLeft(0L)(_ + _).init
    val n = segStats.head.map(_.n_docs).sum
    val avgDls = segStats.map { ss =>
      val tok = ss.map(_.total_tokens).sum
      if (n > 0 && tok > 0) tok.toDouble / n else 1.0
    }.toArray

    // per-field global df per term (tiny pushdown reads over every segment)
    val dfs: Array[Map[String, Long]] = fields.map { f =>
      f.segmentDirs
        .map(d => IndexBuilder.readTerms(spark, d).where($"term".isin(terms: _*)).toDF())
        .reduce(_ unionByName _)
        .groupBy($"term").agg(sum($"doc_freq").as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }.toArray
    if (!dfs.exists(_.nonEmpty)) return spark.emptyDataset[Search.QueryHit].toDF()

    val qTerms = terms.toArray
    val boosts = fields.map(_.boost).toArray
    val weights: Array[Array[Double]] = Array.tabulate(fields.size) { fi =>
      qTerms.map(t => boosts(fi) * NaiveBm25.idf(n, dfs(fi).getOrElse(t, 0L)))
    }
    val bCtx = spark.sparkContext.broadcast((qTerms, weights, avgDls))
    val bBases = spark.sparkContext.broadcast(bases.toArray)

    val blocks = (for {
      (f, fi) <- fields.zipWithIndex
      (d, si) <- f.segmentDirs.zipWithIndex
    } yield IndexBuilder.readPostings(spark, d)
      .where($"term".isin(terms: _*))
      .select(
        lit(fi).as("fld"), lit(si).as("seg"), $"slice", $"term", $"block_id",
        $"doc_id_min", $"doc_id_max", $"count", $"deltas", $"tfs", $"dls",
        $"poss", $"max_tf", $"min_dl"
      ))
      .reduce(_ unionByName _)
      .as[(Int, Int, Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Int, Int)]

    type Row = (Int, Int, Int, String, Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Int, Int)
    val bTombs = spark.sparkContext.broadcast(
      fields.head.segmentDirs.map(graft.index.Tombstones.handle).toArray)
    def wand(seg: Int, slice: Int, rows: Iterator[Row], base: DocFilter): Iterator[Search.QueryHit] = {
      val (ts, ws, avgs) = bCtx.value
      val byFieldTerm = rows.toArray.groupBy(r => (r._1, r._4))
      val iters = (for {
        fi <- avgs.indices.iterator
        ti <- ts.indices.iterator
        rs <- byFieldTerm.get((fi, ts(ti))).iterator
      } yield {
        val refs = rs
          .sortBy(r => (r._6, r._5))
          .map(r => BlockRef(r._6, r._7, r._8, r._9, r._10, r._11, r._12,
            IndexBuilder.impact(r._13, r._14, avgs(fi))))
        new PostingIter(fi * ts.length + ti, ws(fi)(ti), refs, avgs(fi))
      }).toArray
      val tomb = bTombs.value(seg)
      val filter = if (tomb == null) base else tomb.compose(slice, base)
      val docBase = bBases.value(seg)
      BlockMaxWand.or(iters, k, filter)
        .iterator.map(h => Search.QueryHit(docBase + h.docId, h.score))
    }

    val attrDirs = fields.head.segmentDirs.toArray
    val bAttrDirs = spark.sparkContext.broadcast(attrDirs)
    val localTopK =
      if (attrFilter == null)
        blocks.groupByKey(r => (r._2, r._3)).flatMapGroups { (key, rows) => wand(key._1, key._2, rows, null) }
      else {
        val pred = attrFilter
        blocks.groupByKey(r => (r._2, r._3)).flatMapGroups { (key, rows) =>
          val cur = AttrSidecar.openCursor(bAttrDirs.value(key._1), key._2, pred)
          try wand(key._1, key._2, rows, cur)
          finally cur.close()
        }
      }

    localTopK.toDF().orderBy(desc("score"), asc("doc_id")).limit(k)
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
    * impact, so instead of hand-pruning we decode ONLY the query terms'
    * posting blocks (scan pushdown), shuffle (doc, term, w·tf) rows —
    * the same magnitude as any scoring walk's candidate set — and let
    * Catalyst aggregate. The per-doc score folds in ASCENDING TERM
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
    require(fields.nonEmpty)
    val terms = queryTerms.distinct
    val stats = fields.map(f => IndexBuilder.readStats(spark, f.indexDir))
    val n = stats.head.n_docs
    require(stats.forall(_.n_docs == n),
      "field indexes must share the docID space (same corpus, same urls)")
    val avgdlC = fields.zip(stats).map { case (f, st) =>
      f.boost * (if (st.avg_dl > 0) st.avg_dl else 1.0)
    }.sum
    // merged term stats: one tiny pushdown dictionary read per field
    val perFieldDf: Seq[Map[String, Long]] = fields.map { f =>
      IndexBuilder.readTerms(spark, f.indexDir)
        .where($"term".isin(terms: _*))
        .collect().map(t => t.term -> t.doc_freq).toMap
    }
    val dfc: Map[String, Long] = terms
      .map(t => t -> perFieldDf.map(_.getOrElse(t, 0L)).max)
      .toMap.filter(_._2 > 0L)
    if (dfc.isEmpty) return spark.emptyDataset[Search.QueryHit].toDF()
    val present = terms.filter(dfc.contains)
    val idfs = present.map(t => t -> NaiveBm25.idf(n, math.min(dfc(t), n))).toDF("term", "idf")

    // decoded candidate postings: (doc_id, term, w_f·tf) — scan pushdown
    // reads only the query terms' blocks of each field
    val post = fields.map { f =>
      val w = f.boost
      IndexBuilder.readPostings(spark, f.indexDir)
        .where($"term".isin(present: _*))
        .select($"term", $"doc_id_min", $"count", $"deltas", $"tfs")
        .as[(String, Long, Int, Array[Byte], Array[Byte])]
        .flatMap { case (t, base, c, deltas, tfs) =>
          val ids = graft.functions.Codec.decodeGapsFromBase(base, deltas, c)
          val fr = graft.functions.Codec.decodeIntsAuto(tfs, c)
          ids.indices.iterator.map(i => (ids(i), t, w * fr(i)))
        }
        .toDF("doc_id", "term", "wtf")
    }.reduce(_ unionByName _)

    // tombstone composition (deletes live on the first field's index, the
    // convention every other FieldedSearch/Search path follows): deleted
    // docs are anti-joined out of the candidate set BEFORE scoring — the
    // declarative analog of the WAND paths' tomb.compose(slice, filter)
    val tombH = graft.index.Tombstones.handle(fields.head.indexDir)
    val candidates = {
      val agg = post.groupBy($"doc_id", $"term").agg(sum($"wtf").as("tfc"))
      if (tombH == null) agg
      else {
        val idxDir = fields.head.indexDir
        val gen = tombH.gen
        val nSlices = IndexBuilder.readMeta(idxDir).nSlices
        val deleted = spark.range(0, nSlices.toLong)
          .as[Long]
          .mapPartitions(_.flatMap(s =>
            graft.index.Tombstones.readSlice(idxDir, gen, s.toInt).iterator))
          .toDF("doc_id")
        agg.join(deleted, Seq("doc_id"), "left_anti")
      }
    }

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
}
