package graft.index

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
  * bounds would break WAND's correctness guarantee). The merge therefore
  * decodes blocks to postings (distributed flatMap over compressed
  * blocks — the shuffle moves small encoded rows, never whole lists on
  * one node), restages, and reruns the shared staged→postings pipeline —
  * inheriting group-level resumable commits.
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
    import spark.implicits._
    val done = IndexBuilder.completedUnits(outDir)
    if (done.contains("done")) return
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
    IndexBuilder.writeMeta(outDir, mergedCfg)

    if (!done.contains("staged")) {
      val statsA = IndexBuilder.readStats(spark, idxA)
      val offset = statsA.n_docs

      // merged docs table (B remapped), clustered by doc_id. Only the
      // dimension columns carry over — the merged postings are rebuilt
      // from the segments' blocks, so staged text isn't needed again.
      val docCols = Seq($"doc_id", $"url", $"warc_ts", $"lang", $"doc_len")
      val docsA = IndexBuilder.readDocsTable(spark, idxA).select(docCols: _*)
      val docsB = IndexBuilder.readDocsTable(spark, idxB).select(docCols: _*)
        .withColumn("doc_id", $"doc_id" + offset)
      val nDocsAll = Seq(idxA, idxB).map(IndexBuilder.readStats(spark, _).n_docs).sum.max(1L)
      // same integral slice/grp formulas as IndexBuilder.build — one
      // routing invariant; grp partitioning so fastMerge over a merge()
      // output (and group-pruned reads) work exactly as over a build()
      docsA.unionByName(docsB)
        .withColumn("slice", least(lit(cfg.nSlices - 1), expr(s"CAST(doc_id * ${cfg.nSlices} DIV $nDocsAll AS INT)")))
        .withColumn("grp", least(lit(cfg.nGroups - 1), expr(s"CAST(doc_id * ${cfg.nGroups} DIV $nDocsAll AS INT)")))
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
      Seq(st).toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")
      IndexBuilder.writeStatsJson(outDir, st)
      val nDocs = math.max(1L, st.n_docs)

      // decode both segments' blocks back to term-docs, remap B, restage.
      // Positions carry over as opaque byte chunks (varint skip to find the
      // per-posting boundaries — never decoded to ints).
      def decoded(idx: String, off: Long): DataFrame =
        IndexBuilder.readPostings(spark, idx)
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
              (ids(i) + off, term, tf(i), dl(i), if (chunks == null) null else chunks(i)))
          }
          .toDF("doc_id", "term", "tf", "doc_len", "pos")

      decoded(idxA, 0L).unionByName(decoded(idxB, offset))
        .withColumn("slice", least(lit(cfg.nSlices - 1), expr(s"CAST(doc_id * ${cfg.nSlices} DIV $nDocs AS INT)")))
        // grp nests slices (nSlices % nGroups == 0): same doc-range-group
        // layout the from-scratch build uses
        .withColumn("grp", ($"slice" * cfg.nGroups / cfg.nSlices).cast("int"))
        .select($"doc_id", $"doc_len", $"term", $"tf", $"pos", $"slice", $"grp")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("grp")
        .parquet(s"$outDir/staged")
      IndexBuilder.commitUnit(outDir, "staged")
    }

    // input tombstones SURVIVE the merge (ADVICE r3: dropping them here
    // resurrected upserted/deleted docs after compaction): ids shift by
    // B's offset, each id's slice is re-derived with the SAME integral
    // formula the merged docs table used above, and the union lands as
    // the output's gen-0 via the standard sorted-union import. Stats stay
    // Lucene-style (deleted docs still counted until purge) — exactly the
    // inputs' own contract. The import and the "tombstones" unit land in
    // one commit, so a replay after it skips the job entirely.
    if (!IndexBuilder.completedUnits(outDir).contains("tombstones")) {
      val offsetB = IndexBuilder.readStats(spark, idxA).n_docs
      val nd = math.max(1L, IndexBuilder.readStats(spark, outDir).n_docs)
      val tombIns = Seq((idxA, 0L), (idxB, offsetB)).flatMap { case (d, off) =>
        Tombstones.deletedWithSliceDf(spark, d).map(df =>
          df.select((col("doc_id") + off).as("doc_id")))
      }
      if (tombIns.isEmpty) IndexBuilder.commitUnit(outDir, "tombstones")
      else {
        val remapped = tombIns.reduce(_ unionByName _)
          .withColumn("slice",
            least(lit(cfg.nSlices - 1), expr(s"CAST(doc_id * ${cfg.nSlices} DIV $nd AS INT)")))
          .select(col("slice"), col("doc_id"))
        Tombstones.importInto(spark, outDir, remapped, "tombstones")
      }
    }

    val groupInput: Int => DataFrame = { g =>
      spark.read.parquet(s"$outDir/staged").where(col("grp") === g)
        .select(col("term"), col("slice"), col("doc_id"), col("tf"), col("doc_len"), col("pos"))
    }
    IndexBuilder.buildGroups(spark, outDir, cfg, groupInput)
  }

  /** DECODE-FREE merge: concatenate segments into one physical index by
    * pure column remaps — posting payloads (base-relative gaps, tf/dl/pos
    * streams) are copied verbatim, never decoded or re-encoded. This is
    * the Lucene-style "stacked segments" merge: doc ranges concatenate
    * (segment i's ids shift by Σ n_docs of its predecessors), slices and
    * groups renumber by per-segment offsets, so slices remain disjoint doc
    * ranges and every WAND invariant holds.
    *
    * vs [[merge]]: merge() restages and rebuilds — byte-identical to a
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
      .option("compression", sys.env.getOrElse("GRAFT_POSTINGS_CODEC", "uncompressed"))
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
