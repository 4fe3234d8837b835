package graft.index

import org.apache.spark.sql.SparkSession
import graft.query.MultiSearcher
import graft.sources.Fsx

/** Ordered segment family + tiered compaction — the missing lifecycle
  * piece between streaming ingest (one immutable segment per micro-batch)
  * and bounded-fan-out serving: Elasticsearch keeps ONE live index per
  * time bucket and lets Lucene's tiered merge policy fold flush segments
  * together (`ElasticSearchStorage.cs:293-320` implies per-bucket indices,
  * not per-bulk-batch); without a policy, segment count — and with it
  * query fan-out and term-dict duplication — grows unboundedly with
  * uptime.
  *
  * The manifest (`segments.json`, atomically replaced) is the source of
  * truth for which segments are live and their ORDER — order defines the
  * family's global docID bases, so only ADJACENT runs ever merge
  * (fastMerge concatenates doc ranges; an adjacent merge preserves every
  * global id).
  *
  * Policy (Lucene TieredMergePolicy, simplified): merge the
  * smallest-total adjacent run of `mergeFactor` segments whose sizes lie
  * within `tierFactor` of each other. Equal-size micro-batches therefore
  * fold into ~mergeFactor× bigger segments tier by tier; a big old
  * segment is never rewritten just because small flushes arrived next to
  * it (the tier guard), giving the standard LSM amortized O(log n)
  * rewrite cost and a segment count bounded by ~mergeFactor · #tiers.
  */
object SegmentFamily {

  final case class Seg(dir: String, n_docs: Long)

  private def manifestPath(root: String) = s"$root/segments.json"

  /** SINGLE-WRITER CONTRACT (the one place it's documented — every other
    * control file inherits it): at most one process mutates a family —
    * builds, upserts, compactions, expirations are externally serialized,
    * exactly as one Lucene IndexWriter owns an index. READERS are
    * unrestricted: every manifest replace is write-tmp + rename, so a
    * concurrent reader sees the old or the new family, never a torn one.
    */
  private def segName(dir: String): String = {
    val d = if (dir.endsWith("/")) dir.dropRight(1) else dir
    d.substring(d.lastIndexOf('/') + 1)
  }

  private def checksumOf(body: String): String =
    java.lang.Long.toHexString {
      val c = new java.util.zip.CRC32()
      c.update(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      c.getValue
    }

  /** Parse with a real JSON reader (Jackson, shipped with Spark) and
    * verify the checksum line — a truncated or hand-mangled manifest
    * fails loudly instead of silently dropping segments (the r3 regex
    * parser's failure mode). The legacy bare-array format (no checksum)
    * still reads for in-place upgrades.
    */
  def read(root: String): Seq[Seg] = {
    val s = Fsx.readUtf8Opt(manifestPath(root)).getOrElse(return Nil)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(s)
    val arr =
      if (node.isArray) node // legacy bare array, pre-checksum
      else {
        val body = node.get("segments")
        require(body != null && body.isArray, s"malformed segment manifest: ${manifestPath(root)}")
        val expect = node.get("checksum")
        if (expect != null) {
          val got = checksumOf(mapper.writeValueAsString(body))
          require(got == expect.asText(),
            s"segment manifest checksum mismatch (${expect.asText()} vs $got): ${manifestPath(root)}")
        }
        body
      }
    (0 until arr.size).map { i =>
      val e = arr.get(i)
      Seg(s"$root/${e.get("dir").asText()}", e.get("n_docs").asLong())
    }
  }

  /** Atomic manifest replace (tmp + rename): readers see old or new,
    * never a torn list. Segment dirs are stored relative to the root;
    * the checksum covers the serialized segments array.
    */
  def write(root: String, segs: Seq[Seg]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    segs.foreach { s =>
      val e = mapper.createObjectNode()
      e.put("dir", segName(s.dir))
      e.put("n_docs", s.n_docs)
      arr.add(e)
    }
    val doc = mapper.createObjectNode()
    doc.set[com.fasterxml.jackson.databind.JsonNode]("segments", arr)
    doc.put("checksum", checksumOf(mapper.writeValueAsString(arr)))
    Fsx.writeUtf8Atomic(manifestPath(root), mapper.writeValueAsString(doc))
  }

  /** Register a freshly built segment (idempotent by dir name — a
    * replayed micro-batch re-registers the same segment).
    */
  def append(spark: SparkSession, root: String, segDir: String): Unit = {
    val cur = read(root)
    if (!cur.exists(_.dir == segDir))
      write(root, cur :+ Seg(segDir, IndexBuilder.readStats(spark, segDir).n_docs))
  }

  /** Query the whole family as one logical index. */
  def searcher(spark: SparkSession, root: String): MultiSearcher =
    new MultiSearcher(spark, read(root).map(_.dir))

  /** ES index-API semantics over the family: docs whose url is already
    * indexed are REPLACED (last write wins — ≙ the reference's
    * `_id`-keyed bulk upserts into ES, `ElasticSearchStorage.cs:95-149`).
    * One call:
    *   1. index `pages` into a new segment with
    *      [[IndexBuilder.flushOrBuild]] — a batch within the flush budget
    *      is indexed on the driver (one gathering job plus one
    *      single-partition write per table), a larger one by the
    *      distributed build;
    *   2. tombstone every OLDER version of the incoming urls in all
    *      EXISTING segments with ONE delete ([[Tombstones.deleteByUrls]]
    *      over the family: node-local exclusion from then on, no
    *      rewrite) — the urls are read from the new segment's docs table,
    *      which reads the same on every retry even if `pages` is a
    *      non-deterministic stream source;
    *   3. append the new segment to the manifest.
    * So an upsert runs the same number of jobs whatever the family's
    * size. Re-running the same `segName` is idempotent end-to-end
    * (resumable build, sorted-union tombstones, idempotent append) — the
    * new segment itself is never tombstoned.
    *
    * Caller contract: urls are unique WITHIN `pages` (pre-collapse a
    * batch with the J3 last-write-wins operator if not). Stats include
    * tombstoned docs until segments are purged/compacted — Lucene
    * semantics, same as [[Tombstones]].
    */
  def upsert(
      spark: SparkSession,
      root: String,
      pages: org.apache.spark.sql.Dataset[graft.Page],
      segName: String,
      cfg: IndexBuilder.BuildConfig = IndexBuilder.BuildConfig()
  ): Unit = {
    import spark.implicits._
    require(segName.matches("[A-Za-z0-9_-]+"), "segName must be filesystem-safe")
    val segDir = s"$root/$segName"
    IndexBuilder.flushOrBuild(spark, pages, segDir, cfg)
    val older = read(root).map(_.dir).filterNot(_ == segDir) // never tombstone the new segment
    // urls read back from the NEW segment (resume-safe: identical on
    // every retry even if `pages` is a non-deterministic stream source)
    Tombstones.deleteByUrls(spark, older, IndexBuilder.readDocsTable(spark, segDir).select($"url").as[String])
    append(spark, root, segDir)
  }

  /** Smallest-total adjacent run of `mergeFactor` same-tier segments, or
    * None when the family is already tiered.
    */
  private[index] def planRun(
      sizes: Seq[Long], mergeFactor: Int, tierFactor: Double
  ): Option[(Int, Int)] = {
    var best: Option[(Int, Int, Long)] = None
    var i = 0
    while (i + mergeFactor <= sizes.length) {
      val run = sizes.slice(i, i + mergeFactor)
      if (run.max <= tierFactor * math.max(1L, run.min)) {
        val tot = run.sum
        if (best.forall(_._3 > tot)) best = Some((i, i + mergeFactor, tot))
      }
      i += 1
    }
    best.map(b => (b._1, b._2))
  }

  /** Run the merge policy to quiescence: while a qualifying adjacent run
    * exists, fastMerge it into a new generation segment, atomically
    * replace the run in the manifest, and delete the inputs. Each merge
    * is decode-free (column remap); queries before/after are
    * rank-identical (MultiSearcher over the new manifest ≡ old — tested).
    */
  def maybeCompact(
      spark: SparkSession,
      root: String,
      mergeFactor: Int = 4,
      // strictly below mergeFactor so a just-merged (mergeFactor·n)-sized
      // segment does NOT re-qualify next to fresh n-sized flushes — tiers
      // stay separate and big segments aren't rewritten per flush
      tierFactor: Double = 3.0
  ): Unit = {
    require(mergeFactor >= 2)
    var segs = read(root)
    var gen = {
      // next generation id = 1 + max over existing gen-segment names
      val re = """gen-(\d+)""".r
      segs.flatMap(s => re.findFirstMatchIn(s.dir).map(_.group(1).toLong)).maxOption.getOrElse(0L) + 1
    }
    var p = planRun(segs.map(_.n_docs), mergeFactor, tierFactor)
    while (p.isDefined) {
      val (from, until) = p.get
      val run = segs.slice(from, until)
      val outDir = s"$root/gen-$gen"
      SegmentMerge.fastMerge(spark, run.map(_.dir), outDir)
      val merged = Seg(outDir, IndexBuilder.readStats(spark, outDir).n_docs)
      segs = segs.take(from) ++ Seq(merged) ++ segs.drop(until)
      write(root, segs) // atomic cutover, then reclaim the inputs
      run.foreach(s => graft.sources.Fsx.delete(s.dir))
      gen += 1
      p = planRun(segs.map(_.n_docs), mergeFactor, tierFactor)
    }
  }

  /** Point-in-time SNAPSHOT of the family (ES `_snapshot` role): read
    * the manifest ONCE (atomic — a consistent segment list), copy each
    * listed segment directory (immutable once manifested; their CURRENT
    * tombstone generations ride along) to `dst`, then write the same
    * manifest there. The snapshot is itself a fully functional family —
    * "restore" is just pointing a searcher (or a new serving root) at
    * it, optionally [[Fsx.copyTree]]-ing it back. Works across Hadoop
    * filesystems (local → HDFS → s3a). Single-writer contract applies:
    * snapshot while a concurrent writer is mutating tombstones of
    * LISTED segments may capture a newer tombstone generation than the
    * manifest read saw — still a consistent, serveable family (deletes
    * are monotone), just not a strict point in time.
    */
  def snapshot(root: String, dst: String): Seq[Seg] = {
    val segs = read(root)
    require(segs.nonEmpty, s"nothing to snapshot at $root")
    Fsx.mkdirs(dst)
    segs.foreach { s => Fsx.copyTree(s.dir, s"$dst/${segName(s.dir)}") }
    write(dst, segs.map(s => Seg(s"$dst/${segName(s.dir)}", s.n_docs)))
    read(dst)
  }
}
