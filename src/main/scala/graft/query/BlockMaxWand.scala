package graft.query

import scala.collection.mutable
import graft.functions.Codec
import graft.index.IndexBuilder.impact

/** Non-scoring doc filter — Lucene "filter context": contributes no
  * score; candidates outside it are skipped before scoring, and WAND
  * terminates early once it exhausts. Contract: targets are ASCENDING
  * (WAND's candidate stream is), so implementations may be monotone
  * single-pass cursors — [[SortedIdsFilter]] wraps a materialized
  * sorted allow-list (the ad-hoc Column path), while
  * [[graft.index.AttrSidecar.AttrCursor]] streams the slice's attribute
  * sidecar with O(1) memory (the ES doc-values path).
  */
trait DocFilter {
  /** No more allowed docs (WAND can stop). */
  def exhausted: Boolean
  /** Is `target` allowed? Cursor advances; targets ascending. */
  def contains(target: Long): Boolean
  /** Smallest allowed doc ≥ target (Long.MaxValue when exhausted). */
  def ceil(target: Long): Long
}

/** Block-max WAND top-k over compressed posting lists (north rule O4:
  * the query capability the reference provisions in Elasticsearch —
  * `ElasticSearchStorage.cs:217,227,231` text mappings — implemented
  * ourselves). Pure Scala; runs inside `flatMapGroups` per doc-range
  * slice, never on the driver.
  *
  * Rank identity with [[NaiveBm25]] is guaranteed by:
  *   - exact scoring at every candidate (block maxima only gate skips);
  *   - identical float order of operations (terms summed in query order);
  *   - upper bounds inflated by (1+1e-9) so float re-association can
  *     never under-estimate a bound and wrongly skip;
  *   - tie-break by ascending docID.
  *
  * Every walk but [[or]]'s WAND pivot loop is a composition of three
  * cursor loops, each written once:
  *   - [[Conjunction]], the leapfrog AND of the cursors and the filter:
  *     [[and]], [[phrase]], [[phraseSlop]], [[phraseMatches]], and the
  *     AND side of [[matchingDocIds]] and [[scoredMatches]];
  *   - [[Disjunction]], the doc-at-a-time OR merge with the filter-gap
  *     jump: the OR side of [[matchingDocIds]] and [[scoredMatches]],
  *     and [[groupTopK]] (dis_max and synonyms);
  *   - [[blockMaxSkip]], the metadata-only block-max gate, which
  *     [[gatedTopK]] runs between the conjunction and the scorer for
  *     [[and]], [[phrase]] and [[phraseSlop]]; they differ only in the
  *     cursors that bound the gate, the bound formula and the scorer.
  */
object BlockMaxWand {

  /** One term's posting blocks within a slice, decode-on-demand with
    * block skipping (the per-block doc_id_max is the skip index,
    * ≙ ClickHouse sparse index granules `ClickHouseStorage.cs:182`).
    */
  final class PostingIter(
      val termIdx: Int,
      val idf: Double,
      blocks: Array[BlockRef],
      avgDl: Double
  ) {
    private var bi = 0 // current block
    private var i = 0 // index within decoded block
    private var ids: Array[Long] = _
    private var tfs: Array[Int] = _
    private var dls: Array[Int] = _
    private var poscache: Array[Array[Int]] = _ // decoded lazily, phrase mode only
    val maxScore: Double = // term-level upper bound
      if (blocks.isEmpty) 0.0
      else idf * blocks.map(_.maxImpact).max * Bound

    decodeIfNeeded()

    private def decodeIfNeeded(): Unit = {
      if (bi < blocks.length && ids == null) {
        val b = blocks(bi)
        ids = Codec.decodeGapsFromBase(b.docIdMin, b.deltas, b.count)
        tfs = Codec.decodeIntsAuto(b.tfs, b.count)
        dls = Codec.decodeIntsAuto(b.dls, b.count)
        poscache = null
        BlockMaxWand.blockDecodes.add(1L)
      }
    }

    /** Token positions of the CURRENT posting (phrase queries). Decodes
      * the whole block's position stream on first use within a block —
      * blocks are small (≤ blockSize postings) and phrase evaluation only
      * reaches blocks where all terms intersect.
      */
    def positions: Array[Int] = {
      decodeIfNeeded()
      if (poscache == null) {
        val b = blocks(bi)
        require(b.poss != null && b.poss.nonEmpty,
          "index built without positions — phrase queries need positions=true")
        val r = new Codec.PosReader(b.poss)
        poscache = Array.tabulate(b.count)(j => r.readPositions(tfs(j)))
        BlockMaxWand.posBlockDecodes.add(1L)
      }
      poscache(i)
    }

    /** Raw per-block impact bound (idf-free — phrase iters carry idf=0). */
    def blockMaxImpact: Double =
      if (exhausted) 0.0 else blocks(bi).maxImpact

    def exhausted: Boolean = bi >= blocks.length
    def doc: Long = if (exhausted) Long.MaxValue else { decodeIfNeeded(); ids(i) }

    def blockMaxScore: Double =
      if (exhausted) 0.0 else idf * blocks(bi).maxImpact * Bound

    /** Upper bound of current block's last doc (skip target for BMW). */
    def blockLastDoc: Long =
      if (exhausted) Long.MaxValue else blocks(bi).docIdMax

    def score: Double = {
      decodeIfNeeded()
      idf * impact(tfs(i), dls(i), avgDl)
    }

    def docLen: Int = { decodeIfNeeded(); dls(i) }
    def avgDocLen: Double = avgDl

    /** Raw term frequency at the current doc (SynonymQuery blends tf
      * ACROSS group members before one impact() — the per-term score
      * accessor can't express that).
      */
    def tf: Int = { decodeIfNeeded(); tfs(i) }

    def next(): Unit = {
      if (exhausted) return
      decodeIfNeeded()
      i += 1
      if (i >= ids.length) { bi += 1; i = 0; ids = null; decodeIfNeeded() }
    }

    /** Advance to first doc >= target (block skip + binary search). */
    def advance(target: Long): Unit = {
      if (exhausted) return
      while (bi < blocks.length && blocks(bi).docIdMax < target) {
        bi += 1; i = 0; ids = null
      }
      if (exhausted) return
      decodeIfNeeded()
      // binary search within block for first id >= target
      var lo = i
      var hi = ids.length - 1
      if (ids(lo) >= target) { i = lo; return }
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (ids(mid) < target) lo = mid else hi = mid - 1
      }
      i = lo + 1
      if (i >= ids.length) { bi += 1; i = 0; ids = null; decodeIfNeeded() }
    }

    /** METADATA-ONLY advance: move past every block ending before
      * `target` without decoding any payload — the skip-gate loop bounds
      * successive blocks purely from (docIdMax, maxImpact) columns and
      * only the block that finally beats θ gets decoded (by the next
      * doc/advance access). This is what makes the gate cheap: a decode
      * per skipped block would erase most of the win.
      */
    def shallowAdvance(target: Long): Unit = {
      if (bi < blocks.length && blocks(bi).docIdMax >= target) return
      while (bi < blocks.length && blocks(bi).docIdMax < target) {
        bi += 1; i = 0; ids = null
      }
    }
  }

  private val Bound = 1.0 + 1e-9

  /** Count of position-stream block decodes (the expensive step of phrase
    * evaluation) — observability for the phrase skip gate; a LongAdder so
    * local-mode task threads can bump it contention-free. Test-facing.
    */
  private[graft] val posBlockDecodes = new java.util.concurrent.atomic.LongAdder

  /** Count of posting-block payload decodes — observability for the
    * block-max skip gates (a gated AND/OR must leave most blocks of a
    * common term undecoded once top-k is full). Test-facing.
    */
  private[graft] val blockDecodes = new java.util.concurrent.atomic.LongAdder

  /** `maxImpact` is whatever bound the READER chose for its avgdl: the
    * stored exact `max_impact` when querying with the index's own avgdl,
    * or impact(max_tf, min_dl, globalAvgdl) for cross-segment queries.
    */
  final case class BlockRef(
      docIdMin: Long,
      docIdMax: Long,
      count: Int,
      deltas: Array[Byte],
      tfs: Array[Byte],
      dls: Array[Byte],
      poss: Array[Byte],
      maxImpact: Double
  )

  final case class Hit(docId: Long, score: Double)

  /** (score desc, docId asc)-best-k heap: min-heap ordered so the WORST
    * kept hit is at the head. A candidate beats the head iff its score is
    * higher, or equal score with smaller docId.
    *
    * `after` (nullable) — ES search_after cursor: only hits ranking
    * STRICTLY AFTER it in (score desc, docId asc) order are accepted, so
    * the heap stays k-sized at ANY page depth (from+size would need a
    * depth-sized heap per slice). Skip bounds stay valid: θ only rises
    * from accepted hits, an over-estimate never skips a qualifying doc.
    */
  private[query] final class TopK(k: Int, after: Hit = null) {
    private val ord = Ordering.by[Hit, (Double, Long)](h => (-h.score, h.docId))
    private val heap = mutable.PriorityQueue.empty[Hit](ord) // head = worst
    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.head.score
    def offer(h: Hit): Unit = {
      if (after != null &&
        (h.score > after.score || (h.score == after.score && h.docId <= after.docId)))
        return // at-or-before the cursor — previous pages' territory
      if (heap.size < k) heap.enqueue(h)
      else {
        val w = heap.head
        if (h.score > w.score) { heap.dequeue(); heap.enqueue(h) }
        // equal score, larger docId (docs arrive in ascending order within
        // a slice): loses the tie-break — drop.
      }
    }
    def result: Array[Hit] =
      heap.toArray.sortBy(h => (-h.score, h.docId))
  }

  /** Top-k disjunctive (OR) retrieval with block-max WAND. `iters` must be
    * in query-term order (termIdx = position) — scoring re-walks them in
    * that order for float-identical sums vs the naive oracle.
    * `filter` (nullable): non-scoring allow-list; scores are unchanged,
    * only candidate eligibility is gated (ES filter-context semantics).
    * `minShouldMatch`: a candidate must align ≥ this many DISTINCT query
    * terms (ES bool.should minimum_should_match; 1 = plain OR, |terms| ≡
    * AND). Enforced at scoring time by counting distinct termIdx values
    * on the pivot — the WAND bound still only gates skips, so rank
    * identity vs the naive oracle is preserved for every msm.
    */
  /** `msmOf` (nullable): PER-DOC minimum_should_match — the ES
    * `terms_set` query, whose required-match count comes from a numeric
    * field of the candidate itself. Overrides `minShouldMatch` when set.
    * Sound under WAND pruning because the θ-bound gates only on SCORE
    * upper bounds (msm never justifies a skip), and safe for a monotone
    * sidecar cursor because scored pivots are strictly increasing.
    */
  def or(iters: Array[PostingIter], k: Int, filter: DocFilter = null,
      minShouldMatch: Int = 1, after: Hit = null,
      msmOf: Long => Int = null): Array[Hit] = {
    val top = new TopK(k, after)
    val live = iters.filter(!_.exhausted)
    if (live.isEmpty) return Array.empty
    if (filter != null && filter.exhausted) return Array.empty
    val order = live.clone() // sorted by current doc each round

    var continue = true
    while (continue) {
      java.util.Arrays.sort(order, Ordering.by[PostingIter, Long](_.doc))
      if (order(0).doc == Long.MaxValue) { continue = false }
      else {
        val theta = top.threshold
        // find pivot: smallest prefix with Σ term maxScore > θ
        var acc = 0.0
        var p = -1
        var j = 0
        while (j < order.length && p < 0) {
          if (order(j).doc == Long.MaxValue) { j = order.length }
          else {
            acc += order(j).maxScore
            if (acc > theta) p = j
            j += 1
          }
        }
        if (p < 0) continue = false // no prefix can beat θ — done
        else {
          val pivot = order(p).doc
          if (order(0).doc == pivot) {
            val allowed = filter == null || filter.contains(pivot)
            if (allowed) {
              // all prefix iterators aligned on pivot: block-max check.
              // The bound must cover EVERY iterator that could contribute to
              // pivot's score — including ones beyond the prefix that happen
              // to sit on pivot — or we could wrongly skip a true top-k doc.
              var bacc = 0.0
              var m = 0
              while (m < order.length) {
                if (m <= p) order(m).advance(pivot) // position blocks at pivot
                if (order(m).doc == pivot) bacc += order(m).blockMaxScore
                m += 1
              }
              if (bacc > theta) {
                // exact score, summing in ORIGINAL query-term order;
                // count distinct matched terms for minimum_should_match
                var s = 0.0
                var matched = 0
                var t = 0
                while (t < iters.length) {
                  val it = iters(t)
                  if (!it.exhausted && it.doc == pivot) { s += it.score; matched += 1 }
                  t += 1
                }
                val required = if (msmOf == null) minShouldMatch else msmOf(pivot)
                if (matched >= required) top.offer(Hit(pivot, s))
              }
              // advance every iterator sitting on pivot
              var a = 0
              while (a < order.length) {
                if (order(a).doc == pivot) order(a).next()
                a += 1
              }
            } else {
              // pivot filtered out: every doc up to the filter's next
              // allowed id is ineligible — jump EVERY iterator below that
              // id straight past the gap (not just the ones on pivot:
              // docs in (pivot, nxt) are excluded too, and leaving them
              // behind would probe the filter BACKWARD next round,
              // breaking its monotone-cursor contract)
              val nxt = filter.ceil(pivot + 1)
              if (nxt == Long.MaxValue) continue = false
              var a = 0
              while (a < order.length) {
                if (order(a).doc < nxt) order(a).advance(nxt)
                a += 1
              }
            }
          } else {
            // advance the laggards up to the pivot
            var a = 0
            while (a < p && order(a).doc < pivot) {
              order(a).advance(pivot)
              a += 1
            }
          }
        }
      }
    }
    top.result
  }

  /** A match stream over posting cursors: `nextDoc()` moves to the next
    * match, or to Long.MaxValue at the end, and leaves the cursors that
    * match it sitting on it until the next call.
    */
  private sealed trait Walk {
    def nextDoc(): Long
  }

  /** The leapfrog: the docs on which every cursor and `filter` (a
    * non-scoring conjunct, nullable) agree. Empty when a cursor is
    * already exhausted.
    */
  private final class Conjunction(iters: Array[PostingIter], filter: DocFilter) extends Walk {
    private var doc = -1L

    /** First doc ≥ `from` on which every cursor and the filter agree, or
      * Long.MaxValue: the filter's ceil, then every cursor advances to
      * the target in order; any overshoot raises the target and repeats.
      */
    def align(from: Long): Long = {
      var target = from
      var aligned = false
      while (!aligned && target != Long.MaxValue) {
        aligned = true
        if (filter != null) {
          val c = filter.ceil(target)
          if (c > target) { target = c; aligned = false }
        }
        var t = 0
        while (t < iters.length && target != Long.MaxValue) {
          iters(t).advance(target)
          if (iters(t).doc > target) { target = iters(t).doc; aligned = false }
          t += 1
        }
      }
      doc = target
      target
    }

    def nextDoc(): Long =
      if (doc == Long.MaxValue) doc
      else if (doc >= 0) align(doc + 1)
      else if (iters.isEmpty || iters.exists(_.exhausted)) align(Long.MaxValue)
      else align(iters.map(_.doc).max)
  }

  /** The doc-at-a-time merge: the smallest doc any cursor sits on that
    * `filter` (nullable) allows and at least `msm` cursors share. A
    * disallowed doc jumps every cursor below the filter's next allowed
    * doc straight past the gap (all of them, not only those on the doc,
    * so the filter is never probed backward).
    */
  private final class Disjunction(iters: Array[PostingIter], filter: DocFilter, msm: Int) extends Walk {
    private var doc = -1L

    private def moveOn(d: Long): Unit = {
      var t = 0
      while (t < iters.length) { if (iters(t).doc == d) iters(t).next(); t += 1 }
    }

    def nextDoc(): Long = {
      if (doc != Long.MaxValue) moveOn(doc)
      while (doc != Long.MaxValue) {
        var m = Long.MaxValue
        var t = 0
        while (t < iters.length) { val d = iters(t).doc; if (d < m) m = d; t += 1 }
        if (m == Long.MaxValue) doc = m
        else if (filter == null || filter.contains(m)) {
          var matched = 0
          t = 0
          while (t < iters.length) { if (iters(t).doc == m) matched += 1; t += 1 }
          if (matched >= msm) { doc = m; return m }
          moveOn(m)
        } else {
          val nxt = filter.ceil(m + 1)
          if (nxt == Long.MaxValue) doc = nxt
          else {
            t = 0
            while (t < iters.length) { if (iters(t).doc < nxt) iters(t).advance(nxt); t += 1 }
          }
        }
      }
      doc
    }
  }

  /** A [[Walk]] as a lazy iterator: the walk moves on at `hasNext`, so
    * `emit` reads the cursors while they sit on the doc.
    */
  private abstract class WalkIterator[A](w: Walk) extends scala.collection.AbstractIterator[A] {
    private var d = 0L
    private var loaded = false
    protected def emit(d: Long): A
    def hasNext: Boolean = {
      if (!loaded) { d = w.nextDoc(); loaded = true }
      d != Long.MaxValue
    }
    def next(): A = {
      if (!hasNext) throw new NoSuchElementException
      loaded = false
      emit(d)
    }
  }

  /** Σ score of the cursors sitting on `d`, in query-term order — the
    * float order [[NaiveBm25]] sums in.
    */
  private def scoreOn(iters: Array[PostingIter], d: Long): Double = {
    var s = 0.0
    var t = 0
    while (t < iters.length) { if (iters(t).doc == d) s += iters(t).score; t += 1 }
    s
  }

  /** The block-max gate at aligned doc `d` once the top-k holds θ. While
    * the bound over the current blocks of `bounding` cannot beat θ, every
    * doc those blocks cover is hopeless: every cursor moves past the
    * tightest block end by metadata alone (shallowAdvance — no payload
    * or position decode) and the next blocks are bounded. Returns `d`
    * when the first bound beats θ, Long.MaxValue once a bounding cursor
    * runs out, else the doc to leapfrog from. The bound is Σ
    * blockMaxScore when `idfSum` is NaN (a term AND), else idfSum · min
    * blockMaxImpact · Bound (a phrase: freq ≤ each bounding term's tf,
    * and impact is monotone in freq).
    */
  private def blockMaxSkip(iters: Array[PostingIter], bounding: Array[PostingIter], idfSum: Double,
                           theta: Double, d: Long): Long = {
    var target = d
    while (true) {
      var sum = 0.0
      var minImp = Double.MaxValue
      var minLast = Long.MaxValue
      var j = 0
      while (j < bounding.length) {
        val it = bounding(j)
        if (it.exhausted) return Long.MaxValue
        if (idfSum.isNaN) sum += it.blockMaxScore
        else if (it.blockMaxImpact < minImp) minImp = it.blockMaxImpact
        if (it.blockLastDoc < minLast) minLast = it.blockLastDoc
        j += 1
      }
      if ((if (idfSum.isNaN) sum else idfSum * minImp * Bound) > theta) return target
      target = minLast + 1
      var a = 0
      while (a < iters.length) { iters(a).shallowAdvance(target); a += 1 }
    }
    target
  }

  /** The gated top-k of [[and]], [[phrase]] and [[phraseSlop]]: the
    * [[Conjunction]] over `iters` and `filter`, the [[blockMaxSkip]] gate
    * once the heap is full, then `score` at each doc the gate lets
    * through — NaN means no match, and nothing is offered.
    */
  private def gatedTopK(iters: Array[PostingIter], filter: DocFilter, k: Int, after: Hit,
                        bounding: Array[PostingIter], idfSum: Double)(score: Long => Double): Array[Hit] = {
    val top = new TopK(k, after)
    val conj = new Conjunction(iters, filter)
    var d = conj.nextDoc()
    while (d != Long.MaxValue) {
      val theta = top.threshold
      val from = if (theta == Double.NegativeInfinity) d else blockMaxSkip(iters, bounding, idfSum, theta, d)
      if (from == d) {
        val s = score(d)
        if (!s.isNaN) top.offer(Hit(d, s))
        d = conj.nextDoc()
      } else d = conj.align(from)
    }
    top.result
  }

  /** Top-k conjunctive (AND) retrieval: the [[Conjunction]] (`filter`,
    * nullable, joins it as a non-scoring conjunct) with exact scores
    * summed in query-term order.
    *
    * Block-max skip gate (the shape phrase mode carries): once top-k is
    * full, any aligned doc d inside the current blocks scores at most
    * Σ_t idf_t · maxImpact(t's current block); while that sum can't beat
    * θ, EVERY doc covered by all current blocks is hopeless — jump past
    * the tightest block end without scoring (for two common terms the
    * intersection is corpus-sized, and the ungated loop decoded and
    * scored all of it). Bounds only gate skips, so rank identity holds.
    */
  def and(iters: Array[PostingIter], k: Int, filter: DocFilter = null,
      after: Hit = null): Array[Hit] =
    gatedTopK(iters, filter, k, after, iters, Double.NaN)(scoreOn(iters, _))

  /** Exact-phrase top-k (ES `match_phrase` over analyzed text — positions
    * are provisioned capability: the reference's template declares the
    * comment/data fields `text`, `ElasticSearchStorage.cs:217,227,231`,
    * and ES indexes positions on text fields by default).
    *
    * Scoring (mirrored bit-for-bit by NaiveBm25.phraseTopK and the DuckDB
    * oracle): freq = number of exact phrase occurrences; score =
    * idfSum · freq/(freq + k1·(1 − b + b·dl/avgdl)) where idfSum sums the
    * idf of every phrase position (duplicated terms counted per
    * occurrence) — Lucene PhraseQuery's shape.
    *
    * `iters` carry one PostingIter per DISTINCT phrase term in
    * first-occurrence order (so offsets(0) contains 0); `offsets(j)` =
    * the phrase indexes where distinct term j occurs. Retrieval is the
    * [[Conjunction]] over the distinct terms (with doc-filter as an extra
    * non-scoring conjunct), then a positional verify on aligned docs.
    *
    * Block-max gate: freq(d) ≤ tf_t(d) for every phrase term t, and
    * impact is monotone ↑tf, so score(d) ≤ idfSum · min_t maxImpact(t's
    * current block); runs of hopeless blocks are crossed without
    * decoding a single position stream.
    */
  def phrase(
      iters: Array[PostingIter],
      offsets: Array[Array[Int]],
      idfSum: Double,
      k: Int,
      filter: DocFilter = null,
      after: Hit = null
  ): Array[Hit] =
    gatedTopK(iters, filter, k, after, iters, idfSum) { _ =>
      val freq = phraseFreq(iters.map(_.positions), offsets)
      if (freq > 0) idfSum * impact(freq, iters(0).docLen, iters(0).avgDocLen) else Double.NaN
    }

  /** Stream ALL phrase-matching docs of a slice as (docId, freq,
    * docLen), ascending docId — no scoring, no top-k cut, no block-max
    * gate (there is no threshold to gate on): the [[Conjunction]]'s docs
    * whose positional verify finds an occurrence. The building block for
    * FIELDED (most_fields) phrase scoring, phrase counts and the
    * query_string tree's phrase leaves; nothing is buffered.
    */
  def phraseMatches(
      iters: Array[PostingIter],
      offsets: Array[Array[Int]],
      filter: DocFilter = null
  ): Iterator[(Long, Int, Int)] =
    new WalkIterator[(Long, Int, Int)](new Conjunction(iters, filter)) {
      protected def emit(d: Long): (Long, Int, Int) =
        (d, phraseFreq(iters.map(_.positions), offsets), iters(0).docLen)
    }.filter(_._2 > 0)

  /** Count exact phrase occurrences given per-distinct-term sorted
    * position arrays. A start p counts iff ∀j ∀o∈offsets(j):
    * (p+o) ∈ poss(j). Starts iterate poss(0) (offsets(0) contains 0).
    */
  def phraseFreq(poss: Array[Array[Int]], offsets: Array[Array[Int]]): Int = {
    var freq = 0
    var s = 0
    while (s < poss(0).length) {
      val start = poss(0)(s)
      var ok = true
      var j = 0
      while (ok && j < poss.length) {
        val offs = offsets(j)
        var o = 0
        while (ok && o < offs.length) {
          if (java.util.Arrays.binarySearch(poss(j), start + offs(o)) < 0) ok = false
          o += 1
        }
        j += 1
      }
      if (ok) freq += 1
      s += 1
    }
    freq
  }

  /** Sloppy-phrase weighted occurrence count in e6 FIXED POINT. Matching
    * is the greedy ordered chain: a match starts at each occurrence p0 of
    * the first phrase term; each later phrase position j binds to the
    * SMALLEST position of its term strictly after position j−1's binding;
    * the match holds iff total displacement (span minus phrase length)
    * ≤ slop. In-order matches only — Lucene's sloppy scorer additionally
    * admits transposed terms within the edit budget; this is the
    * ordered-span-near semantics, documented as such. Per-match weight is
    * Lucene's 1/(1+displacement), accumulated as ⌊10^6/(1+d)⌋ INTEGERS so
    * the oracle can sum matches in any order without float-associativity
    * drift; callers divide by 10^6 once.
    *
    * `chain(j)` = distinct-term index of phrase position j (chain(0)==0:
    * distinct terms are in first-occurrence order). Greedy chains are
    * monotone in p0, so the first start whose chain exhausts a positions
    * array ends the scan.
    */
  def sloppyFreqE6(poss: Array[Array[Int]], chain: Array[Int], slop: Int): Long = {
    var sum = 0L
    val first = poss(chain(0))
    val L = chain.length
    var s = 0
    var exhaustedChain = false
    while (s < first.length && !exhaustedChain) {
      val p0 = first(s)
      var prev = p0
      var j = 1
      var ok = true
      while (ok && j < L) {
        val arr = poss(chain(j))
        var lo = java.util.Arrays.binarySearch(arr, prev + 1)
        if (lo < 0) lo = -lo - 1
        if (lo >= arr.length) { ok = false; exhaustedChain = true }
        else { prev = arr(lo); j += 1 }
      }
      if (ok) {
        val disp = prev - p0 - (L - 1)
        if (disp <= slop) sum += 1000000L / (1L + disp)
      }
      s += 1
    }
    sum
  }

  /** Sloppy-phrase top-k (ES `match_phrase` with `slop`): retrieval is
    * the same [[Conjunction]] over distinct phrase terms as [[phrase]];
    * positional verify is [[sloppyFreqE6]]'s greedy ordered chain.
    * Score = idfSum · freq/(freq + k1·(1 − b + b·dl/avgdl)) with
    * freq = weightE6/10^6 — [[phrase]]'s shape with the weighted float
    * freq, op order mirrored by NaiveBm25.phraseSlopTopK and the DuckDB
    * oracle.
    *
    * Block-max gate: freq ≤ matches ≤ tf(first term) (each match
    * consumes a distinct first-term start; later terms MAY be shared
    * between matches, so only iters(0) bounds it), and impact is
    * monotone ↑freq ⇒ score ≤ idfSum · maxImpact(iter 0's block). Runs
    * of hopeless first-term blocks are crossed metadata-only.
    */
  def phraseSlop(
      iters: Array[PostingIter],
      chain: Array[Int],
      slop: Int,
      idfSum: Double,
      k: Int,
      filter: DocFilter = null,
      after: Hit = null
  ): Array[Hit] = {
    require(slop >= 0, "negative slop")
    gatedTopK(iters, filter, k, after, iters.take(1), idfSum) { _ =>
      val wE6 = sloppyFreqE6(iters.map(_.positions), chain, slop)
      if (wE6 <= 0) Double.NaN
      else {
        val freq = wE6 / 1000000.0
        val dl = iters(0).docLen
        idfSum *
          (freq / (freq + graft.index.IndexBuilder.K1 *
            (1 - graft.index.IndexBuilder.B +
              graft.index.IndexBuilder.B * dl / iters(0).avgDocLen)))
      }
    }
  }

  /** The match stream of a term AND (the [[Conjunction]]) or OR (the
    * [[Disjunction]], ≥ `minShouldMatch` distinct terms on the doc).
    */
  private def termWalk(iters: Array[PostingIter], isAnd: Boolean, minShouldMatch: Int,
                       filter: DocFilter): Walk =
    if (isAnd) new Conjunction(iters, filter) else new Disjunction(iters, filter, minShouldMatch)

  /** Enumerate ALL matching docs of a slice, ascending, NO scoring — the
    * candidate stream of the aggregation phase (ES runs its aggs over
    * exactly this: every doc matching the query, not the top-k). AND =
    * the [[Conjunction]]; OR = the [[Disjunction]] with a
    * distinct-matched-term count gate (`minShouldMatch`). `filter`
    * composes as a non-scoring conjunct (filter context, must_not,
    * tombstones — same as retrieval).
    */
  def matchingDocIds(
      iters: Array[PostingIter],
      isAnd: Boolean,
      minShouldMatch: Int = 1,
      filter: DocFilter = null
  ): Iterator[Long] =
    new WalkIterator[Long](termWalk(iters, isAnd, minShouldMatch, filter)) {
      protected def emit(d: Long): Long = d
    }

  /** Enumerate ALL matching docs WITH exact scores, ascending docId —
    * the field-collapse walk (no top-k gate: collapse semantics need the
    * best hit of EVERY group, and a group's best can rank anywhere, so
    * every match is scored exactly once). Scores sum in iterator (=
    * query-term) order — the same float contract as or()/and().
    */
  def scoredMatches(
      iters: Array[PostingIter],
      isAnd: Boolean,
      minShouldMatch: Int = 1,
      filter: DocFilter = null
  ): Iterator[(Long, Double)] =
    new WalkIterator[(Long, Double)](termWalk(iters, isAnd, minShouldMatch, filter)) {
      protected def emit(d: Long): (Long, Double) = (d, scoreOn(iters, d))
    }

  /** Document-at-a-time top-k over term groups — the walk of
    * [[Search.synonymTopK]] (`members(g)`: group g's cursors) and
    * [[Search.disMaxTopK]] (one-term groups, combined by `tieBreaker`;
    * at tb = 1 that is not the sum's float): the [[Disjunction]] over
    * every member. A one-term group scores exactly [[PostingIter.score]].
    */
  def groupTopK(
      members: Array[Array[PostingIter]],
      idfs: Array[Double],
      avgDl: Double,
      isAnd: Boolean,
      minShouldMatch: Int,
      k: Int,
      filter: DocFilter,
      tieBreaker: Option[Double]
  ): Array[Hit] = {
    val top = new TopK(k)
    val disMax = tieBreaker.isDefined
    val tb = tieBreaker.getOrElse(0.0)
    val walk = new Disjunction(members.flatten, filter, 1)
    var d = walk.nextDoc()
    while (d != Long.MaxValue) {
      var total = 0.0
      var best = 0.0
      var matched = 0
      var g = 0
      while (g < members.length) {
        var tfSum = 0
        var dl = 0
        val gm = members(g)
        var m = 0
        while (m < gm.length) {
          if (gm(m).doc == d) { tfSum += gm(m).tf; dl = gm(m).docLen }
          m += 1
        }
        if (tfSum > 0) {
          matched += 1
          val s = idfs(g) * impact(tfSum, dl, avgDl)
          total += s
          if (s > best) best = s
        }
        g += 1
      }
      if (if (isAnd) matched == members.length else matched >= minShouldMatch)
        top.offer(Hit(d, if (disMax) best + tb * (total - best) else total))
      d = walk.nextDoc()
    }
    top.result
  }
}
