package graft.index

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.IndexBuilder.BuildConfig
import graft.query.{DocFilter, Filters, NotFilter, SortedIdsSet}
import graft.sources.Fsx

/** Deleted-document tombstones over an immutable index — the Lucene/ES
  * delete model (the reference's ES sink inherits it: a delete-by-query
  * against an event-log index marks docs and reclaims them at segment
  * merge), re-expressed for this engine's slice layout:
  *
  *   - [[delete]] MARKS docs: one Spark job writes, per doc-range slice,
  *     a sorted deleted-id file next to the posting slices. Every query
  *     path composes the exclusion NODE-LOCALLY (the WAND task reads its
  *     own slice's tombstone file — no per-query doc-id exchange, same
  *     scale shape as the attribute sidecar).
  *   - Queries exclude marked docs IMMEDIATELY, but corpus stats
  *     (n_docs, avgdl, df) are UNCHANGED until purge — Lucene semantics:
  *     deleted docs stop matching but still count in scoring stats, so
  *     surviving docs' scores do not shift on delete, only on purge.
  *   - [[purge]] rewrites the index without the deleted docs (ids
  *     renumbered dense, stats/df recomputed, blocks re-encoded) —
  *     ≙ Lucene's merge-time reclamation. Cost class = SegmentMerge
  *     .merge (decode + rebuild, one rewrite); run it when the deleted
  *     fraction makes the per-query exclusion (memory ∝ deletes per
  *     slice) or the stats drift worth reclaiming.
  *
  * Layout: `tombstones/gen-<G>/slice-<s>.bin` (magic+version, varint
  * count, varint doc-id gaps, ascending). The live generation and its
  * deleted total are the `tombstones` entry of the index's commit log
  * (`_log/`, [[graft.sources.Fsx]], beside the build checkpoints).
  * Readers resolve it once per query (driver-side, via [[handle]]) and
  * only ever open one complete generation; the generation before the
  * live one stays until the next publish, and a reader whose generation
  * is gone fails loudly. A publish renames its
  * generation into place, then commits on the log version it read before
  * its job, so a concurrent second [[delete]] fails, naming the index.
  */
object Tombstones {

  private val Magic = 0x47544d42 // "GTMB"
  private val Version = 1

  private def tombDir(indexDir: String) = s"$indexDir/tombstones"
  private def genDir(indexDir: String, gen: Int) = s"${tombDir(indexDir)}/gen-$gen"
  private val GenName = """gen-(\d+)""".r

  private def fsOf(p: Path): FileSystem = p.getFileSystem(Fsx.conf)

  /** (generation, totalDeleted) of a log commit's live tombstone set. */
  private def stateOf(c: Fsx.Commit): Option[(Int, Long)] =
    Option(c.state.get("tombstones")).map(t => (t.get("gen").asInt, t.get("deleted").asLong))

  /** (generation, totalDeleted) of the live tombstone set, if any. */
  def current(indexDir: String): Option[(Int, Long)] = stateOf(Fsx.latest(indexDir))

  /** Total deleted docs (0 when no tombstones). */
  def count(indexDir: String): Long = current(indexDir).map(_._2).getOrElse(0L)

  /** Serializable per-query capture of the live generation. Resolve ONCE
    * driver-side ([[handle]]) so every task of one query reads the same
    * generation even if a delete lands mid-flight.
    */
  final case class Handle(indexDir: String, gen: Int) extends Serializable {
    /** Task-side: compose this slice's tombstone exclusion with `base`. */
    def compose(slice: Int, base: DocFilter): DocFilter = {
      val ids = readSlice(indexDir, gen, slice)
      if (ids.isEmpty) base
      else Filters.and(base, new NotFilter(new SortedIdsSet(ids)))
    }
  }

  /** Live-generation handle, or null when the index has no tombstones
    * (the common case costs one existence check per QUERY, not per task).
    */
  def handle(indexDir: String): Handle =
    current(indexDir) match {
      case Some((g, _)) => Handle(indexDir, g)
      case None         => null
    }

  /** Task/driver-side: sorted deleted ids of one slice (empty when the
    * generation has no file for it; throws when the generation itself is
    * gone, see [[withSlice]]). Memory ∝ deletes in the slice —
    * bounded by [[purge]] policy, exactly as Lucene bounds live-deletes
    * by merging.
    */
  def readSlice(indexDir: String, gen: Int, slice: Int): Array[Long] =
    withSlice(indexDir, gen, slice, Array.emptyLongArray) { (in, n) =>
      val ids = new Array[Long](n)
      var prev = 0L
      var i = 0
      while (i < n) {
        prev += readVar(in)
        ids(i) = prev
        i += 1
      }
      ids
    }

  /** Number of deleted ids of one slice, from its file's header. */
  private def sliceCount(indexDir: String, gen: Int, slice: Int): Long =
    withSlice(indexDir, gen, slice, 0L)((_, n) => n.toLong)

  /** `read` over one slice file's stream past its header and its id
    * count, or `empty` when the generation has no file for the slice.
    * Throws, naming the index and the generation, when the generation
    * itself is gone: a publish keeps only the live generation and the
    * one before it, so a reader that resolved its [[Handle]] two
    * publishes ago must not read "no deletes".
    */
  private def withSlice[T](indexDir: String, gen: Int, slice: Int, empty: T)(read: (DataInputStream, Int) => T): T = {
    val p = new Path(s"${genDir(indexDir, gen)}/slice-$slice.bin")
    val fs = fsOf(p)
    if (!fs.exists(p)) {
      if (!fs.exists(p.getParent)) throw new java.io.FileNotFoundException(
        s"$indexDir: tombstone generation $gen is gone; two newer generations were published since it was resolved")
      return empty
    }
    val in = new DataInputStream(new BufferedInputStream(fs.open(p), 1 << 16))
    try {
      require(in.readInt() == Magic && in.readInt() == Version, s"bad tombstone header: $p")
      read(in, readVar(in).toInt)
    } finally in.close()
  }

  private def writeVar(out: DataOutputStream, v: Long): Unit = {
    var x = v
    while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
  }
  private def readVar(in: DataInputStream): Long = {
    var shift = 0; var v = 0L; var b = 0
    do {
      b = in.read()
      if (b < 0) throw new java.io.EOFException("tombstone file truncated")
      v |= (b & 0x7fL) << shift; shift += 7
    } while ((b & 0x80) != 0)
    v
  }

  private def writeSlice(dir: String, slice: Int, ids: Array[Long]): Unit = {
    val p = new Path(s"$dir/slice-$slice.bin")
    val out = new DataOutputStream(new BufferedOutputStream(fsOf(p).create(p, true), 1 << 16))
    try {
      out.writeInt(Magic); out.writeInt(Version)
      writeVar(out, ids.length.toLong)
      var prev = 0L
      var i = 0
      while (i < ids.length) {
        writeVar(out, ids(i) - prev)
        prev = ids(i)
        i += 1
      }
    } finally out.close()
  }

  /** Mark every doc matching `pred` (a Column over the docs table:
    * url/lang/warc_ts/doc_len/doc_id) as deleted. Returns the TOTAL
    * deleted count after the call (idempotent: a call that adds no id
    * writes nothing). One job: matching (slice, doc_id) pairs shuffle by
    * slice (column-pruned scan), each slice task merges with the current
    * generation's file and writes the next generation; the driver carries
    * untouched slices' files forward and commits the new generation to
    * the index's log.
    */
  def delete(spark: SparkSession, indexDir: String, pred: Column): Long =
    deleteWhere(spark, Seq(indexDir), _.where(pred)).head

  /** Mark an explicit id set (bulk deletes keyed externally — e.g. ids
    * resolved from urls via a join the caller owns).
    */
  def deleteByIds(spark: SparkSession, indexDir: String, ids: org.apache.spark.sql.Dataset[Long]): Long =
    deleteWhere(spark, Seq(indexDir), _.join(ids.toDF("doc_id"), Seq("doc_id"), "left_semi")).head

  /** Mark by natural key (url — the reference's event identity): a semi
    * join against the column-pruned docs scan resolves urls → ids.
    */
  def deleteByUrls(spark: SparkSession, indexDir: String, urls: org.apache.spark.sql.Dataset[String]): Long =
    deleteByUrls(spark, Seq(indexDir), urls).head

  /** [[deleteByUrls]] in every index of `indexDirs` with one delete: the
    * same jobs as for a single index, however many indexes there are. The
    * upsert path ([[SegmentFamily.upsert]]) retires older versions of
    * re-indexed docs in all older segments this way. Returns each index's
    * total deleted count.
    */
  def deleteByUrls(
      spark: SparkSession,
      indexDirs: Seq[String],
      urls: org.apache.spark.sql.Dataset[String]
  ): Seq[Long] =
    deleteWhere(spark, indexDirs, _.join(urls.toDF("url"), Seq("url"), "left_semi"))

  /** Mark the docs `pick` selects from each index's docs table, in every
    * index of `indexDirs` with one job: the picked (slice, doc_id) rows of
    * all indexes, each tagged with its index's position, go through one
    * [[applyDeletes]]. Returns each index's total deleted count.
    */
  private def deleteWhere(spark: SparkSession, indexDirs: Seq[String],
                          pick: DataFrame => DataFrame): Seq[Long] =
    if (indexDirs.isEmpty) Nil
    else applyDeletes(spark, indexDirs, indexDirs.zipWithIndex
      .map { case (d, i) =>
        IndexBuilder.withDocsTable(spark, d)(pick).select(lit(i).as("seg"), col("slice"), col("doc_id"))
      }
      .reduce(_ union _))

  /** Collect another index's live tombstones into `indexDir` (merge
    * lineage: the caller has already remapped (slice, doc_id) into THIS
    * index's coordinate space) and mark checkpoint `unit` done in the same
    * commit. Same sorted-union semantics as a delete, so re-importing
    * after a resumed merge is idempotent.
    */
  private[index] def importInto(spark: SparkSession, indexDir: String, idsDf: DataFrame, unit: String): Long =
    applyDeletes(spark, Seq(indexDir),
      idsDf.toDF("slice", "doc_id").select(lit(0).as("seg"), col("slice"), col("doc_id")), unit).head

  /** Marks each (seg, slice, doc_id) row of `idsDf` deleted in
    * `indexDirs(seg)`; returns each index's total deleted count. One job:
    * rows shuffle by (seg, slice), and each task merges its ids with that
    * index's current generation. A task writes its slice's next file only
    * when it adds an id, into this call's own STAGING dir of the index,
    * published only after the whole job succeeds: a failed or concurrent
    * attempt's partial slice files never become part of a generation
    * (they'd exclude docs without being counted in its total). The driver
    * then publishes every index that gained ids; an index that gained none
    * keeps its generation and commits only `unit`, if one is given.
    */
  private def applyDeletes(spark: SparkSession, indexDirs: Seq[String], idsDf: DataFrame,
                           unit: String = null): Seq[Long] = {
    import spark.implicits._
    // one publish per index: two entries of one index would commit on the same log version
    require(indexDirs.distinct.size == indexDirs.size, s"indexDirs must be distinct: $indexDirs")
    val dirs = indexDirs.toArray
    val logs = dirs.map(Fsx.latest) // each publish commits on the version read here
    val prev = logs.map(stateOf)
    val prevGens = prev.map(_.map(_._1).getOrElse(-1))
    val staging = dirs.map(d => s"${tombDir(d)}/.staging-${java.util.UUID.randomUUID}")

    // per-(index, slice) merge task: old ids ∪ new ids → next generation's
    // file. Driver collect: one row per touched slice, so at most nSlices
    // rows per index.
    try {
      val written = idsDf
        .select($"seg", $"slice".cast("int"), $"doc_id")
        .as[(Int, Int, Long)]
        .groupByKey(r => (r._1, r._2))
        .mapGroups { (key, it) =>
          val (seg, slice) = key
          val fresh = it.map(_._3).toArray
          java.util.Arrays.sort(fresh)
          val old = if (prevGens(seg) < 0) Array.emptyLongArray else readSlice(dirs(seg), prevGens(seg), slice)
          // sorted union, dedup
          val merged = new scala.collection.mutable.ArrayBuffer[Long](old.length + fresh.length)
          var i = 0; var j = 0
          while (i < old.length || j < fresh.length) {
            val v =
              if (j >= fresh.length || (i < old.length && old(i) <= fresh(j))) { val x = old(i); i += 1; x }
              else { val x = fresh(j); j += 1; x }
            if (merged.isEmpty || merged.last != v) merged += v
          }
          // merged ⊇ old, so it adds ids iff it is longer
          if (merged.length > old.length) writeSlice(staging(seg), slice, merged.toArray)
          (seg, slice, (merged.length - old.length).toLong)
        }
        .collect()

      dirs.indices.map { i =>
        val added = written.collect { case (seg, slice, n) if seg == i && n > 0 => slice -> n }.toMap
        if (added.nonEmpty) publish(logs(i), prev(i), staging(i), added, unit)
        else {
          if (unit != null) Fsx.commit(logs(i))(IndexBuilder.addUnit(_, unit))
          prev(i).map(_._2).getOrElse(0L)
        }
      }
    } finally staging.foreach(Fsx.delete) // a published one is already renamed away
  }

  /** Publish a staged generation of the index whose log read `base`
    * (live generation and total `prev`; `added` ids per touched slice):
    * carry the previous generation's untouched slice files into it,
    * rename it into place under a number no generation dir has yet (one
    * a crashed writer renamed but never committed is never reused),
    * commit it — with `unit`, if given — on `base`, and delete every
    * generation dir but the new one and the previous live one. A query
    * resolves its [[Handle]] once and opens the slice files later, so the
    * previous generation stays until the next publish. Returns the new
    * total deleted count.
    */
  private def publish(base: Fsx.Commit, prev: Option[(Int, Long)], outDir: String,
                      added: Map[Int, Long], unit: String): Long = {
    val indexDir = base.dir
    // carry untouched slices' files into the new generation (driver-side
    // copy of small id files)
    prev.foreach { case (pg, _) =>
      val oldDir = new Path(genDir(indexDir, pg))
      val fs = fsOf(oldDir)
      fs.listStatus(oldDir).foreach { st =>
        val name = st.getPath.getName // slice-<s>.bin
        if (!added.contains(name.stripPrefix("slice-").stripSuffix(".bin").toInt))
          org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, new Path(s"$outDir/$name"), false, Fsx.conf)
      }
    }
    val total = prev.map(_._2).getOrElse(0L) + added.values.sum
    val gens = Fsx.listNames(tombDir(indexDir)).collect { case GenName(g) => g.toInt }
    val nextGen = (gens ++ prev.map(_._1)).maxOption.getOrElse(-1) + 1
    Fsx.renameNew(outDir, genDir(indexDir, nextGen))
    Fsx.commit(base) { s =>
      s.putObject("tombstones").put("gen", nextGen).put("deleted", total)
      if (unit != null) IndexBuilder.addUnit(s, unit)
    }
    // older generations and any a crashed or losing writer left
    gens.filterNot(g => prev.exists(_._1 == g)).foreach(g => Fsx.delete(genDir(indexDir, g)))
    total
  }

  /** Live deleted ids WITH their slice, executor-read — the merge lineage
    * input ([[SegmentMerge]] remaps these into the output's coordinate
    * space so deletes survive compaction). None when delete-free.
    */
  private[index] def deletedWithSliceDf(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    import spark.implicits._
    current(indexDir).map { case (gen, _) =>
      val idxDir = indexDir
      val nSlices = IndexBuilder.readMeta(indexDir).nSlices
      spark.range(0, nSlices.toLong)
        .as[Long]
        .mapPartitions(_.flatMap { s =>
          readSlice(idxDir, gen, s.toInt).iterator.map(id => (s.toInt, id))
        })
        .toDF("slice", "doc_id")
    }
  }

  /** Purge's map of an index's doc ids: its deleted docs drop out and the
    * rest renumber densely in order, `new = old − (deleted ids below
    * old)`. The count below is `before(s)`, the deleted ids of the slices
    * before old's slice s, plus those below old in s's own file — which
    * holds because every index's slices are contiguous doc ranges in
    * ascending order.
    */
  private[index] final case class Dropped(indexDir: String, gen: Int, before: Array[Long]) {
    /** A per-task map of (slice, old id) to the new id. It reads each
      * slice's deleted ids once, when first asked, so a task holds only
      * those of the slices it maps. A deleted doc maps to the complement
      * (< 0) of the id the next survivor gets, which keeps the map
      * monotone for block-range checks.
      */
    def open(): (Int, Long) => Long = {
      val deleted = new Array[Array[Long]](before.length)
      (slice, old) => {
        if (deleted(slice) == null) deleted(slice) = readSlice(indexDir, gen, slice)
        val i = java.util.Arrays.binarySearch(deleted(slice), old)
        if (i >= 0) ~(old - before(slice) - i) else old - before(slice) - (-i - 1)
      }
    }
  }

  /** Rewrite the index at `outDir` WITHOUT the deleted docs: survivors
    * renumber to dense ids (order preserved), stats/df recompute, posting
    * blocks re-encode — the result is rank-identical to a from-scratch
    * build over the surviving pages (tested), with no tombstones.
    * Cost class = SegmentMerge.merge: the same rewrite
    * ([[SegmentMerge.rewrite]], resumable per unit) over one source whose
    * ids map through [[Dropped]]. The driver reads only the nSlices
    * per-slice counts; nothing id-sized is collected or joined.
    */
  def purge(
      spark: SparkSession,
      indexDir: String,
      outDir: String,
      cfg: BuildConfig = null
  ): Unit = {
    if (IndexBuilder.completedUnits(outDir).contains("done")) return
    val gen = current(indexDir) match {
      case Some((g, _)) => g
      case None => throw new IllegalArgumentException(s"no tombstones to purge in $indexDir")
    }
    val srcMeta = IndexBuilder.readMeta(indexDir)
    val useCfg = if (cfg == null) srcMeta else cfg.copy(positions = srcMeta.positions)
    val counts = (0 until srcMeta.nSlices).map(sliceCount(indexDir, gen, _))
    val survivors = IndexBuilder.readStats(spark, indexDir).n_docs - counts.sum
    // a resumed purge must map ids as its written docs did; deletes only
    // add ids, so a changed survivor count means the source changed
    if (IndexBuilder.completedUnits(outDir).contains("staged") &&
        IndexBuilder.readStats(spark, outDir).n_docs != survivors)
      throw new IllegalStateException(
        s"$indexDir: deletes landed since the purge into $outDir started; purge into a new directory")
    SegmentMerge.rewrite(spark,
      Seq(SegmentMerge.Source(indexDir, 0L, survivors, Dropped(indexDir, gen, counts.scanLeft(0L)(_ + _).init.toArray))),
      outDir, useCfg)
  }
}
