package graft.index

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.CorpusStats
import graft.functions.{Codec, DenseId}
import graft.index.IndexBuilder.BuildConfig
import graft.query.{DocFilter, Filters, NotFilter, SortedIdsSet}

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
  *     .merge (decode + restage + rebuild); run it when the deleted
  *     fraction makes the per-query exclusion (memory ∝ deletes per
  *     slice) or the stats drift worth reclaiming.
  *
  * Layout: `tombstones/gen-<G>/slice-<s>.bin` (magic+version, varint
  * count, varint doc-id gaps, ascending) + `tombstones/CURRENT`
  * (`<G> <totalDeleted>`), replaced atomically — readers resolve CURRENT
  * once per query (driver-side, via [[handle]]) and only ever open one
  * complete generation. Single-writer: concurrent [[delete]] calls on one
  * index must be externally serialized (same contract as the builder).
  */
object Tombstones {

  private val Magic = 0x47544d42 // "GTMB"
  private val Version = 1

  private def tombDir(indexDir: String) = s"$indexDir/tombstones"
  private def genDir(indexDir: String, gen: Int) = s"${tombDir(indexDir)}/gen-$gen"
  private def currentPath(indexDir: String) = new Path(s"${tombDir(indexDir)}/CURRENT")

  private def fsOf(p: Path): FileSystem = p.getFileSystem(graft.sources.Fsx.conf)

  /** (generation, totalDeleted) of the live tombstone set, if any. */
  def current(indexDir: String): Option[(Int, Long)] = {
    val p = currentPath(indexDir)
    val fs = fsOf(p)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val s = new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val parts = s.split("\\s+")
      Some((parts(0).toInt, parts(1).toLong))
    } finally in.close()
  }

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
    * generation has no file for it). Memory ∝ deletes in the slice —
    * bounded by [[purge]] policy, exactly as Lucene bounds live-deletes
    * by merging.
    */
  def readSlice(indexDir: String, gen: Int, slice: Int): Array[Long] = {
    val p = new Path(s"${genDir(indexDir, gen)}/slice-$slice.bin")
    val fs = fsOf(p)
    if (!fs.exists(p)) return Array.emptyLongArray
    val in = new DataInputStream(new BufferedInputStream(fs.open(p), 1 << 16))
    try {
      require(in.readInt() == Magic && in.readInt() == Version, s"bad tombstone header: $p")
      val n = readVar(in).toInt
      val ids = new Array[Long](n)
      var prev = 0L
      var i = 0
      while (i < n) {
        prev += readVar(in)
        ids(i) = prev
        i += 1
      }
      ids
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
    * untouched slices' files forward and cuts CURRENT over atomically.
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
    * index's coordinate space). Same sorted-union semantics as a delete,
    * so re-importing after a resumed merge is idempotent.
    */
  private[index] def importInto(spark: SparkSession, indexDir: String, idsDf: DataFrame): Long =
    applyDeletes(spark, Seq(indexDir),
      idsDf.toDF("slice", "doc_id").select(lit(0).as("seg"), col("slice"), col("doc_id"))).head

  /** Marks each (seg, slice, doc_id) row of `idsDf` deleted in
    * `indexDirs(seg)`; returns each index's total deleted count. One job:
    * rows shuffle by (seg, slice), and each task merges its ids with that
    * index's current generation. A task writes its slice's next file only
    * when it adds an id, into the index's STAGING dir, renamed into place
    * only after the whole job succeeds: a failed attempt's partial slice
    * files must never become live in a later generation under a different
    * predicate (they'd exclude docs without being counted in CURRENT).
    * The driver then publishes every index that gained ids; an index that
    * gained none keeps its generation and writes nothing.
    */
  private def applyDeletes(spark: SparkSession, indexDirs: Seq[String], idsDf: DataFrame): Seq[Long] = {
    import spark.implicits._
    // one staging dir per index: two entries of one index would race on it
    require(indexDirs.distinct.size == indexDirs.size, s"indexDirs must be distinct: $indexDirs")
    val dirs = indexDirs.toArray
    val prev = dirs.map(current)
    val prevGens = prev.map(_.map(_._1).getOrElse(-1))
    val staging = dirs.indices.map(i => s"${genDir(dirs(i), prevGens(i) + 1)}.tmp").toArray
    staging.foreach(graft.sources.Fsx.delete)

    // per-(index, slice) merge task: old ids ∪ new ids → next generation's
    // file. Driver collect: one row per touched slice, so at most nSlices
    // rows per index.
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
        // merged ⊇ old, so it adds an id iff it is longer
        if (merged.length > old.length) {
          writeSlice(staging(seg), slice, merged.toArray)
          (seg, slice, merged.length.toLong)
        } else (seg, slice, -1L)
      }
      .collect()

    dirs.indices.map { i =>
      val touched = written.collect { case (seg, slice, n) if seg == i && n >= 0 => slice -> n }.toMap
      if (touched.isEmpty) prev(i).map(_._2).getOrElse(0L)
      else publish(dirs(i), prevGens(i), staging(i), touched)
    }
  }

  /** Publish a staged generation of `indexDir`: carry the previous
    * generation's untouched slice files into it, rename it into place,
    * cut CURRENT over atomically and reclaim the previous generation.
    * Returns the new total deleted count.
    */
  private def publish(indexDir: String, pg: Int, outDir: String, touched: Map[Int, Long]): Long = {
    val nextGen = pg + 1
    val finalDir = genDir(indexDir, nextGen)
    // carry untouched slices' files into the new generation (driver-side
    // copy of small id files)
    var total = touched.values.sum
    if (pg >= 0) {
      val oldDir = new Path(genDir(indexDir, pg))
      val fs = fsOf(oldDir)
      fs.listStatus(oldDir).foreach { st =>
        val name = st.getPath.getName // slice-<s>.bin
        val s = name.stripPrefix("slice-").stripSuffix(".bin").toInt
        if (!touched.contains(s)) {
          org.apache.hadoop.fs.FileUtil.copy(
            fs, st.getPath, fs, new Path(s"$outDir/$name"), false, graft.sources.Fsx.conf)
          total += readSliceCount(indexDir, pg, s)
        }
      }
    }

    // publish the staged generation (delete-then-rename; readers never see
    // it until CURRENT cuts over below, so the gap is harmless)
    graft.sources.Fsx.delete(finalDir)
    locally {
      val (f, p) = graft.sources.Fsx.fs(outDir)
      require(f.rename(p, new Path(finalDir)), s"tombstone gen publish failed: $finalDir")
    }

    // atomic CURRENT cutover (tmp + rename)
    val cur = currentPath(indexDir)
    val fs = fsOf(cur)
    val tmp = new Path(cur.getParent, s"CURRENT.tmp-$nextGen")
    val out = fs.create(tmp, true)
    try out.write(s"$nextGen $total".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(cur, false)
    require(fs.rename(tmp, cur), s"tombstone CURRENT cutover failed: $cur")
    // old generation reclaimed AFTER cutover (readers that resolved the
    // old gen before the cutover have already opened their files)
    if (pg >= 0) fs.delete(new Path(genDir(indexDir, pg)), true)
    total
  }

  private def readSliceCount(indexDir: String, gen: Int, slice: Int): Long = {
    val p = new Path(s"${genDir(indexDir, gen)}/slice-$slice.bin")
    val fs = fsOf(p)
    val in = new DataInputStream(new BufferedInputStream(fs.open(p), 1 << 10))
    try {
      require(in.readInt() == Magic && in.readInt() == Version, s"bad tombstone header: $p")
      readVar(in)
    } finally in.close()
  }

  /** Deleted ids as a DataFrame (doc_id) — purge's anti-join side. Files
    * are read executor-side, one task per slice.
    */
  private def deletedDf(spark: SparkSession, indexDir: String, gen: Int, nSlices: Int): DataFrame = {
    import spark.implicits._
    val idxDir = indexDir
    spark.range(0, nSlices.toLong)
      .as[Long]
      .mapPartitions(_.flatMap(s => readSlice(idxDir, gen, s.toInt).iterator))
      .toDF("doc_id")
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

  /** Rewrite the index at `outDir` WITHOUT the deleted docs: survivors
    * renumber to dense ids (order preserved), stats/df recompute, posting
    * blocks re-encode — the result is rank-identical to a from-scratch
    * build over the surviving pages (tested), with no tombstones.
    * Cost class = SegmentMerge.merge (decode + restage + buildGroups, all
    * resumable); the id remap joins decoded postings with a (old_id →
    * new_id) table — survivors-sized, shuffled once.
    */
  def purge(
      spark: SparkSession,
      indexDir: String,
      outDir: String,
      cfg: BuildConfig = null
  ): Unit = {
    import spark.implicits._
    val done = IndexBuilder.completedUnits(outDir)
    if (done.contains("done")) return
    val gen = current(indexDir) match {
      case Some((g, _)) => g
      case None => throw new IllegalArgumentException(s"no tombstones to purge in $indexDir")
    }
    val srcMeta = IndexBuilder.readMeta(indexDir)
    val useCfg = if (cfg == null) srcMeta else cfg.copy(positions = srcMeta.positions)
    IndexBuilder.writeMeta(outDir, useCfg)

    if (!done.contains("staged")) {
      val deleted = deletedDf(spark, indexDir, gen, srcMeta.nSlices)

      // survivors keep relative order: new_id = dense rank of old doc_id
      val survivors = IndexBuilder.readDocsTable(spark, indexDir)
        .select($"doc_id", $"url", $"warc_ts", $"lang", $"doc_len")
        .join(deleted, Seq("doc_id"), "left_anti")
      val (remapped, nDocsL) =
        DenseId.assignWithCount(survivors, "doc_id", "new_id", useCfg.nPartitions)
      val nDocs = math.max(1L, nDocsL)

      remapped
        .select($"new_id".as("doc_id"), $"url", $"warc_ts", $"lang", $"doc_len",
          $"doc_id".as("old_id"))
        .withColumn("slice", least(lit(useCfg.nSlices - 1), expr(s"CAST(doc_id * ${useCfg.nSlices} DIV $nDocs AS INT)")))
        .withColumn("grp", least(lit(useCfg.nGroups - 1), expr(s"CAST(doc_id * ${useCfg.nGroups} DIV $nDocs AS INT)")))
        .repartitionByRange(useCfg.nPartitions, $"doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("grp")
        .parquet(s"$outDir/docs_remap")

      val docsRemap = spark.read.parquet(s"$outDir/docs_remap")
      docsRemap.drop("old_id")
        .write.mode(SaveMode.Overwrite).partitionBy("grp").parquet(s"$outDir/docs")

      val st = docsRemap
        .agg(
          org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
          coalesce(avg($"doc_len"), lit(0.0)).as("avg_dl"),
          coalesce(sum($"doc_len"), lit(0L)).as("total_tokens"))
        .as[CorpusStats].head()
      Seq(st).toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")
      IndexBuilder.writeStatsJson(outDir, st)

      // decode source blocks, drop deleted postings, remap ids, restage
      val decoded = IndexBuilder.readPostings(spark, indexDir)
        .select($"term", $"count", $"doc_id_min", $"deltas", $"tfs", $"dls", $"poss")
        .as[(String, Int, Long, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (term, n, idMin, deltas, tfs, dls, poss) =>
          val ids = Codec.decodeGapsFromBase(idMin, deltas, n)
          val tf = Codec.decodeIntsAuto(tfs, n)
          val dl = Codec.decodeIntsAuto(dls, n)
          val chunks =
            if (poss == null || poss.isEmpty) null
            else Codec.splitPosChunks(poss, tf)
          Iterator.tabulate(n)(i =>
            (ids(i), term, tf(i), dl(i), if (chunks == null) null else chunks(i)))
        }
        .toDF("old_id", "term", "tf", "doc_len", "pos")

      decoded
        .join(docsRemap.select($"old_id", $"doc_id", $"slice", $"grp"), Seq("old_id"))
        .select($"doc_id", $"doc_len", $"term", $"tf", $"pos", $"slice", $"grp")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("grp")
        .parquet(s"$outDir/staged")
      IndexBuilder.commitUnitPublic(outDir, "staged")
    }

    val groupInput: Int => DataFrame = { g =>
      spark.read.parquet(s"$outDir/staged").where(col("grp") === g)
        .select(col("term"), col("slice"), col("doc_id"), col("tf"), col("doc_len"), col("pos"))
    }
    IndexBuilder.buildGroups(spark, outDir, useCfg, groupInput)
    // remap scaffold only feeds the staged join — reclaim once built
    // (FS-API delete: a java.io.File delete silently no-ops on HDFS/S3)
    graft.sources.Fsx.delete(s"$outDir/docs_remap")
  }
}
