package graft.index

import org.apache.spark.sql.SparkSession
import graft.Page
import graft.index.IndexBuilder.BuildConfig

/** Multi-corpus orchestration — the Spark rendition of the reference's
  * multi-infobase manager (SURVEY.md §2.1 S6 + §2.9 T9,
  * `ExportersManager.cs:110-222` + `ClstWatcher.cs:46-108`): watch a
  * registry (here: a root directory of corpus subdirectories of Page
  * parquet), diff the current snapshot against the built indexes
  * (added/removed sets ≙ `ClstWatcher.ReadInfoBasesAndRaiseEvents`),
  * build an index per new corpus and retire indexes whose corpus
  * disappeared. Name templating ≙ P13 (`[IBNAME]` substitution,
  * `ClstWatcher.cs:64-71`).
  */
object MultiIndexer {

  final case class SyncResult(added: Seq[String], removed: Seq[String], kept: Seq[String])

  // FS-API listing so the registry can live on the shared filesystem
  // (HDFS/S3) right next to the indexes it governs
  private def listDirs(root: String): Set[String] =
    graft.sources.Fsx.listDirNames(root).filterNot(_.startsWith(".")).toSet

  /** Index-name template expansion (≙ P13): `[IBNAME]` → corpus name. */
  def indexName(template: String, corpus: String): String =
    template.replace("[IBNAME]", corpus)

  /** One sync pass: build indexes for new corpora, delete indexes of
    * vanished corpora. `mask` filters corpus names (≙ the manager's
    * regex Mask, `ClstWatcher.cs:64-71`).
    */
  def sync(
      spark: SparkSession,
      corporaRoot: String,
      indexRoot: String,
      cfg: BuildConfig = BuildConfig(nPartitions = 8, nGroups = 1, nSlices = 2),
      template: String = "idx-[IBNAME]",
      mask: String = ".*"
  ): SyncResult = {
    import spark.implicits._
    val corpora = listDirs(corporaRoot).filter(_.matches(mask))
    val existing = listDirs(indexRoot)
    val wanted = corpora.map(c => indexName(template, c))

    // Retire only directories this indexer plausibly owns: name produced by
    // the template AND carrying build checkpoints in its log. Anything else under
    // indexRoot (other templates' indexes, unrelated data) is left alone —
    // a mispointed indexRoot must not destroy it. Delete failures are
    // surfaced, not swallowed.
    val templateShape =
      java.util.regex.Pattern.quote(template).replace("[IBNAME]", "\\E.+\\Q")
    val removed = (existing -- wanted).toSeq.sorted.filter { name =>
      name.matches(templateShape) &&
        IndexBuilder.completedUnits(s"$indexRoot/$name").nonEmpty
    }
    removed.foreach { name =>
      if (!graft.sources.Fsx.delete(s"$indexRoot/$name"))
        throw new java.io.IOException(s"failed to retire index dir $indexRoot/$name")
    }

    val added = corpora.toSeq.sorted.filter { c =>
      val idx = s"$indexRoot/${indexName(template, c)}"
      val fresh = !IndexBuilder.completedUnits(idx).contains("done")
      if (fresh) {
        val pages = spark.read.parquet(s"$corporaRoot/$c").as[Page]
        IndexBuilder.build(spark, pages, idx, cfg)
      }
      fresh
    }
    val kept = (wanted -- added.map(indexName(template, _)) -- removed).toSeq.sorted
    SyncResult(added, removed, kept)
  }
}
