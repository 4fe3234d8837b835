package graft.index

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Page
import graft.index.IndexBuilder.BuildConfig
import graft.query.MultiSearcher
import graft.sources.Fsx

/** Time-bucketed index family — the engine's rendition of the reference's
  * ES time routing: rows land in `{prefix}-yyyyMM(dd/hh)` indices
  * (`ElasticSearchStorage.cs:293-320`) precisely so date-ranged queries
  * PRUNE whole indices. Here: one immutable index segment per
  * `month(warc_ts)`, the list of (bucket, dir, n_docs) in the root's
  * commit log (`_log/`, [[graft.sources.Fsx]], beside the root's own
  * `staged_pages`/`ingest-*` checkpoint units), and a searcher
  * that selects only the buckets overlapping a date range (segment-level
  * partition pruning), applying the exact predicate in-WAND as the
  * residual filter.
  *
  * Build shape at scale: ONE pass stages pages partitioned by bucket
  * (shuffle-free `partitionBy` write), then each bucket's build reads its
  * own partition with pruning — the same bounded-failure-domain trade the
  * per-group build makes, now along the time axis. docID spaces are
  * per-segment; global ids = bucket-order base offsets (stable under
  * any pruning selection).
  */
object TimeBuckets {

  final case class Bucket(bucket: String, dir: String, n_docs: Long)

  /** Bucket label of an instant — ALWAYS UTC, on both the build side and
    * the pruning side. Deriving labels from the Spark session timezone
    * (the old `date_format(warc_ts, 'yyyyMM')`) while pruning with a UTC
    * formatter silently dropped month-boundary docs on non-UTC sessions.
    */
  def bucketOf(ts: java.sql.Timestamp): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyyMM")
      .withZone(java.time.ZoneOffset.UTC)
      .format(ts.toInstant)

  private def bucketsOf(c: Fsx.Commit): Seq[Bucket] = {
    val arr = c.state.path("buckets")
    (0 until arr.size).map { i =>
      val e = arr.get(i)
      Bucket(e.get("bucket").asText(), s"${c.dir}/${e.get("dir").asText()}", e.get("n_docs").asLong())
    }
  }

  /** The family's buckets, in bucket order. */
  def readManifest(root: String): Seq[Bucket] = bucketsOf(Fsx.latest(root))

  /** Commits `buckets` (and checkpoint `unit`, if given) on `base`. */
  private def commit(base: Fsx.Commit, buckets: Seq[Bucket], unit: String = null): Unit =
    Fsx.commit(base) { s =>
      val arr = s.putArray("buckets")
      buckets.sortBy(_.bucket).foreach { b =>
        arr.addObject().put("bucket", b.bucket)
          .put("dir", b.dir.substring(b.dir.lastIndexOf('/') + 1)).put("n_docs", b.n_docs)
      }
      if (unit != null) IndexBuilder.addUnit(s, unit)
    }

  /** Build (or resume) one index segment per month(warc_ts). */
  def build(
      spark: SparkSession,
      pages: Dataset[Page],
      root: String,
      cfg: BuildConfig = BuildConfig()
  ): Seq[Bucket] = {
    import spark.implicits._
    var base = Fsx.latest(root)
    if (bucketsOf(base).nonEmpty) return bucketsOf(base)

    // one staging pass: pages partitioned by bucket (ES routing analog).
    // Label derived JVM-side via bucketOf — fixed UTC, immune to the
    // session timezone (selectBuckets formats query endpoints identically)
    val staged = s"$root/staged_pages"
    if (!IndexBuilder.unitsOf(base).contains("staged_pages")) {
      pages
        .map(p => (p.url, p.warc_ts, p.html, p.text, p.lang, bucketOf(p.warc_ts)))
        .toDF("url", "warc_ts", "html", "text", "lang", "bucket")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(staged)
      base = Fsx.commit(base)(IndexBuilder.addUnit(_, "staged_pages"))
    }
    val buckets = spark.read.parquet(staged)
      .select($"bucket").distinct().as[String].collect().sorted // ≤ one row per bucket the pages span

    val built = buckets.map { b =>
      val dir = s"$root/seg-$b"
      // partition-pruned read: only this bucket's pages
      val segPages = spark.read.option("basePath", staged).parquet(staged)
        .where($"bucket" === b)
        .select($"url", $"warc_ts", $"html", $"text", $"lang")
        .as[Page]
      IndexBuilder.build(spark, segPages, dir, cfg)
      Bucket(b, dir, IndexBuilder.readStats(spark, dir).n_docs)
    }
    commit(base, built.toSeq)
    built.toSeq
  }

  /** Incrementally absorb a NEW batch of pages into an existing family:
    * per touched bucket, build a delta segment from the new pages and
    * decode-free fastMerge it with the bucket's current segment (fresh
    * buckets just build); untouched buckets are never opened. The new
    * family lands in one commit at the end, with this ingest's "done"
    * unit — readers see the old or the new family, never a mix. This is
    * the reference's steady-state
    * ES shape: new events keep landing in their `{prefix}-yyyyMM` index
    * (`ElasticSearchStorage.cs:293-320`) without rebuilding history.
    *
    * `ingestId` names the generation (delta/merged dirs are suffixed with
    * it) — pass a unique id per call; re-running a completed ingestId is
    * a no-op per bucket (fastMerge checkpoints).
    *
    * docID note: merged-bucket ids = old segment's ids ++ delta's (offset)
    * — a different id ORDER than a one-shot build of the union (which
    * sorts all urls together), but search results are URL-identical with
    * identical scores (tested): ids are internal to the family.
    */
  def ingest(
      spark: SparkSession,
      pages: Dataset[Page],
      root: String,
      ingestId: String,
      cfg: BuildConfig = BuildConfig()
  ): Seq[Bucket] = {
    import spark.implicits._
    require(ingestId.matches("[A-Za-z0-9_-]+"), "ingestId must be filesystem-safe")
    var base = Fsx.latest(root)
    if (IndexBuilder.unitsOf(base).contains(s"ingest-$ingestId-done"))
      return bucketsOf(base) // this generation already fully applied
    val existing = bucketsOf(base).map(b => b.bucket -> b).toMap

    val staged = s"$root/ingest-$ingestId"
    if (!IndexBuilder.unitsOf(base).contains(s"ingest-$ingestId-staged")) {
      pages
        .map(p => (p.url, p.warc_ts, p.html, p.text, p.lang, bucketOf(p.warc_ts)))
        .toDF("url", "warc_ts", "html", "text", "lang", "bucket")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(staged)
      base = Fsx.commit(base)(IndexBuilder.addUnit(_, s"ingest-$ingestId-staged"))
    }
    val touched = spark.read.parquet(staged)
      .select($"bucket").distinct().as[String].collect().sorted // ≤ one row per bucket the batch spans

    val updated = touched.map { b =>
      val segPages = spark.read.option("basePath", staged).parquet(staged)
        .where($"bucket" === b)
        .select($"url", $"warc_ts", $"html", $"text", $"lang")
        .as[Page]
      existing.get(b) match {
        case None =>
          val dir = s"$root/seg-$b-$ingestId"
          IndexBuilder.build(spark, segPages, dir, cfg)
          Bucket(b, dir, IndexBuilder.readStats(spark, dir).n_docs)
        case Some(old) =>
          val deltaDir = s"$root/seg-$b-$ingestId-delta"
          IndexBuilder.build(spark, segPages, deltaDir, cfg)
          val mergedDir = s"$root/seg-$b-$ingestId"
          SegmentMerge.fastMerge(spark, Seq(old.dir, deltaDir), mergedDir)
          Bucket(b, mergedDir, IndexBuilder.readStats(spark, mergedDir).n_docs)
      }
    }
    val untouched = existing.values.filterNot(b => touched.contains(b.bucket)).toSeq
    val all = (untouched ++ updated).sortBy(_.bucket)
    commit(base, all, s"ingest-$ingestId-done")
    // reclaim replaced segments + staging after the cutover (FS-API
    // deletes — java.io.File silently no-ops on HDFS/S3 and would leak
    // every replaced segment forever)
    touched.foreach { b =>
      existing.get(b).foreach(old => Fsx.delete(old.dir))
      Fsx.delete(s"$root/seg-$b-$ingestId-delta")
    }
    Fsx.delete(staged)
    all
  }

  /** Retention — the ES ILM delete-phase analog, and the REASON the
    * reference routes events into `{prefix}-yyyyMM` indices
    * (`ElasticSearchStorage.cs:293-320`): expiring old data is a cheap
    * whole-index drop, never a doc-level delete. Drops every bucket
    * strictly older than `cutoff`'s month: the family commit first
    * (readers see old or new family, never a torn one), then the
    * dropped segment dirs are reclaimed. Returns the dropped buckets.
    *
    * Note the granularity contract: a bucket CONTAINING the cutoff is
    * kept whole (month precision) — residual intra-month cuts stay
    * query-side (sidecar ts filter), exactly like ES retention. Global
    * docIDs (bucket-order bases) COMPACT after an expire; the stable
    * external identity is the url (≙ ES `_id`), never the family id.
    */
  def expire(root: String, cutoff: java.sql.Timestamp): Seq[Bucket] = {
    val cut = bucketOf(cutoff)
    val base = Fsx.latest(root)
    val (drop, keep) = bucketsOf(base).partition(_.bucket < cut)
    if (drop.nonEmpty) {
      commit(base, keep)
      drop.foreach(b => Fsx.delete(b.dir))
    }
    drop
  }

  /** Buckets overlapping [from, to) — month-granularity segment pruning. */
  def selectBuckets(
      root: String,
      from: java.sql.Timestamp,
      to: java.sql.Timestamp
  ): Seq[Bucket] = {
    val lo = bucketOf(from)
    val hi = bucketOf(new java.sql.Timestamp(to.getTime - 1))
    readManifest(root).filter(b => b.bucket >= lo && b.bucket <= hi)
  }

  /** Searcher over the buckets overlapping [from, to): whole non-matching
    * segments are never opened (the pruning win), and callers pass the
    * exact `warc_ts` predicate as the searcher's docFilter for the
    * residual intra-month cut. Global docIDs use bucket-order bases, so
    * answers are stable regardless of how many buckets were pruned.
    */
  def searcher(
      spark: SparkSession,
      root: String,
      from: java.sql.Timestamp,
      to: java.sql.Timestamp
  ): (MultiSearcher, Seq[Bucket]) = {
    val all = readManifest(root)
    val bases = all.map(_.n_docs).scanLeft(0L)(_ + _).init
    val baseOf = all.map(_.bucket).zip(bases).toMap
    val picked = selectBuckets(root, from, to)
    require(picked.nonEmpty, s"no index buckets overlap [$from, $to)")
    // stats/df over the FULL family: pruning is a pure I/O optimization —
    // scores must equal the unpruned family's (only term-dict rows of
    // pruned buckets are touched, never their posting blocks)
    (new MultiSearcher(
      spark, picked.map(_.dir),
      Some(picked.map(b => baseOf(b.bucket))),
      Some(all.map(_.dir))
    ), picked)
  }
}
