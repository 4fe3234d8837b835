package graft.query

import graft.query.BlockMaxWand.PostingIter

/** Ascending-target membership cursor: "is this doc in the set?" — the
  * dual of [[DocFilter]] (which answers "is this doc allowed?"). Same
  * monotone contract as WAND's candidate stream: targets never decrease,
  * so implementations may be single-pass cursors.
  *
  * Used as the EXCLUDED side of [[NotFilter]]: ES `bool.must_not` (the
  * set = docs containing an excluded term) and index tombstones (the set
  * = deleted docs, [[graft.index.Tombstones]]).
  */
trait DocSet {
  /** Is `target` in the set? Cursor may advance; targets ascending. */
  def matches(target: Long): Boolean

  /** Smallest id ≥ target NOT in the set. Default: probe-by-one — fine
    * for scattered sets; implementations whose layout can see a RUN of
    * consecutive members (sorted id arrays) override with a hop, because
    * a predicate delete over clustered ids (e.g. delete-by-lang on a
    * lang-sorted corpus) creates runs of MILLIONS of consecutive
    * tombstoned ids and the +1 walk would cost O(run) probes per slice
    * per query until purge (ADVICE r3).
    */
  def nextAbsent(target: Long): Long = {
    var t = target
    while (t != Long.MaxValue && matches(t)) t += 1
    t
  }
}

/** [[DocSet]] over a sorted doc-id array (tombstones; materialized
  * exclusion lists). Gallop-then-binary-search from the cursor
  * ([[Filters.seek]]), so a full ascending probe sequence costs
  * O(n + probes) total.
  */
final class SortedIdsSet(ids: Array[Long]) extends DocSet {
  private var i = 0
  def matches(target: Long): Boolean = {
    i = Filters.seek(ids, i, target)
    i < ids.length && ids(i) == target
  }

  /** Run-aware hop: `ids(m) − m` is non-decreasing, and is constant
    * exactly on a run of consecutive ids — binary-search the run's end
    * from the cursor instead of probing each member. O(log run) instead
    * of O(run); a million-doc contiguous tombstone run costs ~20 probes.
    */
  override def nextAbsent(target: Long): Long = {
    if (!matches(target)) return target // cursor now at first id ≥ target
    val base = ids(i) - i // constant on the consecutive run from i
    var lo = i
    var hi = ids.length - 1
    if (ids(hi) - hi == base) lo = hi
    else
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (ids(mid) - mid == base) lo = mid else hi = mid - 1
      }
    i = lo // run end; future ascending probes resume from here
    ids(lo) + 1
  }
}

/** ALLOW-list [[DocFilter]] over a SORTED id array — the dual of
  * `NotFilter(SortedIdsSet)`: only the listed docs pass (sampler aggs,
  * export hydrations, the Column path's and the batch path's
  * materialized allow-lists). Exhausts once the cursor passes the last
  * id, so WAND terminates as soon as the list is behind it.
  * Serializable: built on the driver from a bounded id set (≤ shardSize
  * by contract) and shipped in the task closure — each task
  * deserializes its own cursor copy.
  */
final class SortedIdsFilter(ids: Array[Long]) extends DocFilter with Serializable {
  private var i = 0
  def exhausted: Boolean = i >= ids.length
  def contains(target: Long): Boolean = {
    i = Filters.seek(ids, i, target)
    i < ids.length && ids(i) == target
  }
  def ceil(target: Long): Long = {
    i = Filters.seek(ids, i, target)
    if (i >= ids.length) Long.MaxValue else ids(i)
  }
}

/** [[DocSet]] = union of posting lists (ES `must_not` over terms: a doc
  * is in the set iff ANY excluded term's postings contain it). The
  * iterators advance monotonically with the probe stream — block skip +
  * in-block binary search per probe, never a full decode of untouched
  * blocks.
  */
final class PostingSet(iters: Array[PostingIter]) extends DocSet {
  def matches(target: Long): Boolean = {
    var m = false
    var i = 0
    while (i < iters.length) {
      val it = iters(i)
      it.advance(target)
      if (!it.exhausted && it.doc == target) m = true
      i += 1
    }
    m
  }
}

/** Complement of a [[DocSet]] as a [[DocFilter]] — the ES `must_not`
  * clause (and tombstone exclusion): allowed = NOT in the set. Scores
  * are untouched (non-scoring context, like `filter`); candidates in the
  * set are skipped before scoring.
  *
  * Never `exhausted`: the complement of a finite set is unbounded, so
  * WAND termination comes from the posting iterators (or a conjoined
  * finite filter), exactly as in an unfiltered search.
  */
final class NotFilter(excluded: DocSet) extends DocFilter {
  // last ceil-walked window [walkFrom, walkUntil): every id in it was
  // probed excluded. A caller may legitimately re-probe inside it (WAND
  // pivots can land between a rejected pivot and the next allowed doc);
  // answering from the window keeps the underlying cursor forward-only.
  private var walkFrom = Long.MaxValue
  private var walkUntil = Long.MinValue
  def exhausted: Boolean = false
  def contains(target: Long): Boolean =
    if (target >= walkFrom && target < walkUntil) false
    else !excluded.matches(target)
  def ceil(target: Long): Long = {
    if (target >= walkFrom && target < walkUntil) return walkUntil
    // delegate the excluded-run crossing to the set: sorted-id sets hop
    // the whole consecutive run in O(log run) (predicate deletes over
    // clustered ids make such runs millions long); posting-backed sets
    // fall back to the monotone probe-by-one walk
    val t = excluded.nextAbsent(target)
    if (t > target) { walkFrom = target; walkUntil = t }
    t
  }
}

/** Conjunction of two [[DocFilter]]s — composes filter context with
  * `must_not`/tombstones (ES bool: `filter` AND NOT `must_not`). Both
  * sides see ascending targets (`b` only sees targets `a` admitted,
  * which is monotone-compatible).
  */
final class AndFilter(a: DocFilter, b: DocFilter) extends DocFilter {
  def exhausted: Boolean = a.exhausted || b.exhausted
  def contains(target: Long): Boolean = a.contains(target) && b.contains(target)
  def ceil(target: Long): Long = {
    // alternate ceils to a fixpoint (standard leapfrog)
    var x = a.ceil(target)
    var done = x == Long.MaxValue
    while (!done) {
      val y = b.ceil(x)
      if (y == x || y == Long.MaxValue) { x = y; done = true }
      else {
        val z = a.ceil(y)
        if (z == y) { x = z; done = true } else x = z
      }
    }
    x
  }
}

object Filters {
  /** Index of the first id ≥ `target` at or after `from` in ascending
    * `ids` (ids.length when none): gallop from `from`, then binary-search
    * the last step, so an ascending probe sequence over the array costs
    * amortized O(log gap) per probe.
    */
  private[query] def seek(ids: Array[Long], from: Int, target: Long): Int = {
    if (from >= ids.length || ids(from) >= target) return from
    var lo = from // ids(lo) < target
    var step = 1
    var hi = lo + step
    while (hi < ids.length && ids(hi) < target) { lo = hi; step <<= 1; hi = lo + step }
    if (hi > ids.length) hi = ids.length
    var l = lo + 1
    while (l < hi) { val m = (l + hi) >>> 1; if (ids(m) < target) l = m + 1 else hi = m }
    l
  }

  /** null-tolerant AND: either side absent → the other. */
  def and(a: DocFilter, b: DocFilter): DocFilter =
    if (a == null) b else if (b == null) a else new AndFilter(a, b)
}
