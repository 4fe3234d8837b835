package graft.index

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.functions.Codec
import graft.index.IndexBuilder.BuildConfig

/** Merge two immutable index segments into one (SURVEY.md §7 step 5 —
  * ≙ what Elasticsearch does internally with Lucene segment merges after
  * the reference's per-bucket bulk loads, `ElasticSearchStorage.cs:95-149`).
  *
  * Semantics: segment B's dense docIDs are remapped by +nDocs(A); corpus
  * stats (N, avgdl) are recomputed for the union, so per-block
  * `max_impact` metadata is re-derived (it depends on avgdl — stale
  * bounds would break WAND's correctness guarantee). [[merge]] and
  * [[Tombstones.purge]] are one rewrite ([[rewrite]]): it writes the
  * output docs and stats, then each posting group's job decodes the
  * source segments' blocks (distributed, never whole lists on one node),
  * maps their ids into the output, and feeds the packed chunk rows
  * straight into [[IndexBuilder.buildGroups]] — inheriting group-level
  * resumable commits. Nothing per posting is written besides the output.
  *
  * Property (tested): if every url in A sorts before every url in B,
  * merge(build(A), build(B)) ≡ build(A ∪ B) byte-for-byte.
  */
object SegmentMerge {

  def merge(
      spark: SparkSession,
      idxA: String,
      idxB: String,
      outDir: String,
      cfg: BuildConfig = BuildConfig()
  ): Unit = {
    if (IndexBuilder.completedUnits(outDir).contains("done")) return
    // positions carry over only if BOTH inputs indexed them — the caller's
    // cfg cannot conjure positions the source blocks never stored (a meta
    // that falsely advertises phrase capability crashes phrase queries)
    val mergedCfg = cfg.copy(
      positions = cfg.positions &&
        Seq(idxA, idxB).map(IndexBuilder.readMeta).forall(_.positions),
      // sidecar schema follows the INPUTS (they own the declared attrs);
      // the caller's cfg only shapes layout constants
      attrs = IndexBuilder.readMeta(idxA).attrs
    )
    val Seq(nA, nB) = Seq(idxA, idxB).map(IndexBuilder.readStats(spark, _).n_docs)
    rewrite(spark, Seq(Source(idxA, 0L, nA), Source(idxB, nA, nB)), outDir, mergedCfg)
  }

  /** A source segment of a [[rewrite]] and the map of its doc ids into
    * the output: `old + base`; with `dropped` (purge, base 0) its deleted
    * docs drop out instead and the rest renumber densely. `n` is the
    * number of its docs the output keeps.
    */
  private[index] final case class Source(dir: String, base: Long, n: Long,
                                         dropped: Tombstones.Dropped = null) {
    /** A per-task id map (see [[Tombstones.Dropped.open]]: a dropped doc
      * maps to the complement, < 0, of the id the next survivor gets).
      */
    def ids(): (Int, Long) => Long =
      if (dropped == null) (_, old) => old + base else dropped.open()
  }

  /** The one rewrite body of merge and purge: the `sources`' docs, ids
    * mapped and concatenated in order, become the output's docs and stats
    * (checkpoint unit `staged`); the tombstones of sources that keep their
    * deleted docs carry over (unit `tombstones`); then group g's chunks
    * come straight from the sources' blocks ([[rechunk]]). Resume works
    * per unit because the sources are immutable.
    */
  private[index] def rewrite(spark: SparkSession, sources: Seq[Source], outDir: String,
                             cfg: BuildConfig): Unit = {
    import spark.implicits._
    IndexBuilder.writeMeta(outDir, cfg)

    if (!IndexBuilder.completedUnits(outDir).contains("staged")) {
      // only the dimension columns carry over — the postings are rebuilt
      // from the sources' blocks, so staged text isn't needed again
      val docs = sources.map { s =>
        IndexBuilder.readDocsTable(spark, s.dir)
          .select($"slice", $"doc_id", $"url", $"warc_ts", $"lang", $"doc_len")
          .as[(Int, Long, String, java.sql.Timestamp, String, Int)]
          .mapPartitions { rows =>
            val ids = s.ids()
            rows.flatMap { case (slice, old, url, ts, lang, dl) =>
              val id = ids(slice, old)
              if (id < 0) None else Some(Doc(id, url, ts, lang, dl))
            }
          }
      }.reduce(_ union _)
      // the build's routing and layout, so fastMerge over a rewrite's
      // output (and group-pruned reads) work exactly as over a build()
      IndexBuilder.withRouting(docs.toDF(), math.max(1L, sources.map(_.n).sum), cfg)
        .repartitionByRange(cfg.nPartitions, $"doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("grp")
        .parquet(s"$outDir/docs")

      val st = IndexBuilder.readDocsTable(spark, outDir)
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(avg($"doc_len"), lit(0.0)).as("avg_dl"),
          coalesce(sum($"doc_len"), lit(0L)).as("total_tokens")
        )
        .as[CorpusStats].head()
      IndexBuilder.writeStats(spark, outDir, st)
      IndexBuilder.commitUnit(outDir, "staged")
    }
    val nDocs = math.max(1L, IndexBuilder.readStats(spark, outDir).n_docs)

    // input tombstones SURVIVE a merge (ADVICE r3: dropping them here
    // resurrected upserted/deleted docs after compaction): ids shift by
    // their source's base, each id's slice is re-derived with the docs
    // table's routing, and the union lands as the output's gen-0 via the
    // standard sorted-union import. Stats stay Lucene-style (deleted docs
    // still counted until purge) — exactly the inputs' own contract. The
    // import and the "tombstones" unit land in one commit, so a replay
    // after it skips the job entirely.
    val kept = sources.filter(_.dropped == null)
    if (kept.nonEmpty && !IndexBuilder.completedUnits(outDir).contains("tombstones")) {
      val tombIns = kept.flatMap { s =>
        Tombstones.deletedWithSliceDf(spark, s.dir).map(_.select((col("doc_id") + s.base).as("doc_id")))
      }
      if (tombIns.isEmpty) IndexBuilder.commitUnit(outDir, "tombstones")
      else Tombstones.importInto(spark, outDir,
        IndexBuilder.withRouting(tombIns.reduce(_ unionByName _), nDocs, cfg).select(col("slice"), col("doc_id")),
        "tombstones")
    }

    val chunkInput: Int => DataFrame = { g =>
      sources.map { s =>
        IndexBuilder.readPostings(spark, s.dir)
          .select($"term", $"slice", $"count", $"doc_id_min", $"doc_id_max", $"deltas", $"tfs", $"dls", $"poss")
          .as[Block]
          .mapPartitions(blocks => rechunk(blocks, s.ids(), g, cfg, nDocs))
      }.reduce(_ union _).toDF("term", "slice", "min_doc", "n", "ids", "tfs", "dls", "pos")
    }
    IndexBuilder.buildGroups(spark, outDir, cfg, chunkInput)
  }

  /** A source posting block: (term, slice, count, doc_id_min, doc_id_max,
    * deltas, tfs, dls, poss).
    */
  private type Block = (String, Int, Int, Long, Long, Array[Byte], Array[Byte], Array[Byte], Array[Byte])

  /** Output group g's chunk rows from one source's blocks. Per block: its
    * ids map into the output (`ids`, monotone, so a block whose mapped
    * bounds lie outside group g is skipped undecoded); otherwise it
    * decodes once, and every kept posting of group g is routed to its
    * output slice with the build's [[IndexBuilder.rangeOf]]. Each (term,
    * output slice) run of the block becomes one chunk; positions carry
    * over as opaque per-posting byte chunks, never decoded to ints.
    */
  private def rechunk(blocks: Iterator[Block], ids: (Int, Long) => Long, g: Int, cfg: BuildConfig,
                      nDocs: Long): Iterator[IndexBuilder.Chunk] = {
    def groupOf(id: Long) = IndexBuilder.rangeOf(if (id < 0) ~id else id, cfg.nGroups, nDocs)
    blocks.flatMap { case (term, slice, n, idMin, idMax, deltas, tfs, dls, poss) =>
      if (groupOf(ids(slice, idMin)) > g || groupOf(ids(slice, idMax)) < g) Iterator.empty
      else {
        val old = Codec.decodeGapsFromBase(idMin, deltas, n)
        val tf = Codec.decodeIntsAuto(tfs, n)
        val dl = Codec.decodeIntsAuto(dls, n)
        val pos = if (poss == null || poss.isEmpty) null else Codec.splitPosChunks(poss, tf)
        val out = ArrayBuffer.empty[IndexBuilder.Chunk]
        var buf: IndexBuilder.ChunkBuf = null
        var bufSlice = -1
        var i = 0
        while (i < n) {
          val id = ids(slice, old(i))
          if (id >= 0 && IndexBuilder.rangeOf(id, cfg.nGroups, nDocs) == g) {
            val s = IndexBuilder.rangeOf(id, cfg.nSlices, nDocs)
            if (s != bufSlice) {
              if (buf != null) out += IndexBuilder.emitChunk(term, bufSlice, buf)
              buf = new IndexBuilder.ChunkBuf
              bufSlice = s
            }
            buf.add(id, tf(i), dl(i), if (pos == null) null else pos(i))
          }
          i += 1
        }
        if (buf != null) out += IndexBuilder.emitChunk(term, bufSlice, buf)
        out.iterator
      }
    }
  }

  /** DECODE-FREE merge: concatenate segments into one physical index by
    * pure column remaps — posting payloads (base-relative gaps, tf/dl/pos
    * streams) are copied verbatim, never decoded or re-encoded. This is
    * the Lucene-style "stacked segments" merge: doc ranges concatenate
    * (segment i's ids shift by Σ n_docs of its predecessors), slices and
    * groups renumber by per-segment offsets, so slices remain disjoint doc
    * ranges and every WAND invariant holds.
    *
    * vs [[merge]]: merge() decodes and rebuilds — byte-identical to a
    * from-scratch build of the union, at ~rebuild cost. fastMerge() is
    * I/O-bound (read blocks, update 4 small columns, write) and yields
    * RANK-IDENTICAL search results (tested), with `max_impact` re-derived
    * from the avgdl-independent max_tf/min_dl bounds at the union's avgdl
    * (a valid, marginally looser skip bound).
    */
  def fastMerge(
      spark: SparkSession,
      segDirs: Seq[String],
      outDir: String
  ): Unit = {
    import spark.implicits._
    require(segDirs.nonEmpty)
    if (IndexBuilder.completedUnits(outDir).contains("done")) return

    val metas = segDirs.map(IndexBuilder.readMeta)
    val stats = segDirs.map(IndexBuilder.readStats(spark, _))
    val bases = stats.map(_.n_docs).scanLeft(0L)(_ + _).init
    val sliceOffs = metas.map(_.nSlices).scanLeft(0)(_ + _).init
    val grpOffs = metas.map(_.nGroups).scanLeft(0)(_ + _).init
    val nDocs = stats.map(_.n_docs).sum
    val totalTokens = stats.map(_.total_tokens).sum
    val avgDl = if (nDocs > 0 && totalTokens > 0) totalTokens.toDouble / nDocs else 1.0

    require(metas.map(_.attrs).distinct.size == 1,
      s"fastMerge inputs declare different attr schemas: ${metas.map(_.attrs).distinct}")
    IndexBuilder.writeMeta(
      outDir,
      IndexBuilder.BuildConfig(
        nGroups = metas.map(_.nGroups).sum,
        nSlices = metas.map(_.nSlices).sum,
        blockSize = metas.map(_.blockSize).max,
        positions = metas.forall(_.positions),
        attrs = metas.head.attrs
      )
    )

    // docs: ids shift by base, slice/grp renumber — still disjoint ranges
    segDirs.zipWithIndex
      .map { case (d, i) =>
        IndexBuilder.readDocsTable(spark, d)
          .select($"doc_id", $"url", $"warc_ts", $"lang", $"doc_len", $"slice", $"grp")
          .withColumn("doc_id", $"doc_id" + bases(i))
          .withColumn("slice", $"slice" + sliceOffs(i))
          .withColumn("grp", $"grp".cast("int") + grpOffs(i))
      }
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("grp")
      .parquet(s"$outDir/docs")

    Seq(CorpusStats(nDocs, avgDl, totalTokens)).toDS()
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")
    IndexBuilder.writeStatsJson(outDir, CorpusStats(nDocs, avgDl, totalTokens))

    // postings: payloads verbatim; columns remapped; max_impact re-derived
    // for the union avgdl from the avgdl-independent block bounds
    val k1 = IndexBuilder.K1
    val b = IndexBuilder.B
    segDirs.zipWithIndex
      .map { case (d, i) =>
        IndexBuilder.readPostings(spark, d)
          .withColumn("grp", $"grp".cast("int") + grpOffs(i))
          .withColumn("slice", $"slice" + sliceOffs(i))
          .withColumn("doc_id_min", $"doc_id_min" + bases(i))
          .withColumn("doc_id_max", $"doc_id_max" + bases(i))
          .withColumn(
            "max_impact",
            $"max_tf".cast("double") /
              ($"max_tf".cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) * $"min_dl".cast("double") / lit(avgDl)))
          )
      }
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("grp")
      .option("compression", IndexBuilder.PostingsCompression)
      .parquet(s"$outDir/postings")

    // term dictionary: Σ per-segment (df, tf) per term
    segDirs
      .map(d => IndexBuilder.readTerms(spark, d).toDF())
      .reduce(_ unionByName _)
      .groupBy($"term")
      .agg(sum($"doc_freq").as("doc_freq"), sum($"total_tf").as("total_tf"))
      .repartitionByRange(4, $"term")
      .sortWithinPartitions("term")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/terms")

    // attribute sidecar regenerated from the merged docs table (slice
    // labels renumbered above, so source sidecars can't be copied verbatim;
    // this is one column-pruned pass — still far cheaper than any decode)
    AttrSidecar.writeAttrs(spark, outDir, metas.map(_.nSlices).sum, metas.head.attrs)

    // input tombstones SURVIVE the concatenation (ADVICE r3): slices map
    // 1:1 (slice s of segment i → s + sliceOffs(i)), ids shift by
    // bases(i), so each input's per-slice deleted-id file remaps by pure
    // column arithmetic — the same shape as the posting remap above. The
    // union lands as the output's gen-0; deleted docs stay excluded (and
    // upserted urls stay single-valued) across compaction. They land in
    // the same commit as the "done" unit.
    val tombIns = segDirs.zipWithIndex.flatMap { case (d, i) =>
      Tombstones.deletedWithSliceDf(spark, d).map(df =>
        df.select(
          (col("slice") + sliceOffs(i)).as("slice"),
          (col("doc_id") + bases(i)).as("doc_id")))
    }
    if (tombIns.isEmpty) IndexBuilder.commitUnit(outDir, "done")
    else Tombstones.importInto(spark, outDir, tombIns.reduce(_ unionByName _), "done")
  }
}
