package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Page
import graft.functions.Analyzer
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig

/** Structured-Streaming ingest — the Spark rendition of the reference's
  * live pipeline (SURVEY.md §2.9):
  *
  *   - rolling-file source ordering + live tail (S4/S5,
  *     `EventLogReader.cs:115-173`) ≙ `readStream` file source discovering
  *     new files per micro-batch;
  *   - count-batching + timeout flush (A2/T2, `EventLogExporter.cs:188`,
  *     default 1 s) ≙ trigger interval / AvailableNow;
  *   - batch → bulk sink write (S8) ≙ `foreachBatch` building one
  *     immutable index segment per micro-batch;
  *   - resume from checkpoint (T5, `EventLogExporter.cs:192-241`) ≙
  *     Structured Streaming checkpointLocation — a restarted query
  *     re-processes only unseen files, and segment writes are idempotent
  *     (overwrite by batchId), giving the reference's T6
  *     "effectively exactly-once";
  *   - late/old-data cutoff (P2, `LgpReader.cs:118-119`) ≙ watermark +
  *     pre-filter.
  *
  * Segments produced here are merged by [[graft.index.SegmentMerge]] —
  * the same build/merge machinery as batch, so streaming is just
  * micro-batched ingestion, not a second engine.
  */
object StreamingIngest {

  /** Start a streaming index build over a directory of Page parquet files.
    * One segment per micro-batch under `indexDir/segment-<batchId>`,
    * registered in the family's commit log (`_log/`).
    *
    * `mergeFactor` > 0 turns on tiered compaction after each micro-batch
    * ([[graft.index.SegmentFamily.maybeCompact]]): segment count stays
    * bounded (~mergeFactor per size tier) under continuous ingest instead
    * of growing one segment per batch forever — the ES/Lucene per-bucket
    * merge-policy analog. Compaction is decode-free (fastMerge) and
    * rank-preserving; queries go through
    * [[graft.index.SegmentFamily.searcher]].
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      indexDir: String,
      checkpointDir: String,
      cfg: BuildConfig = BuildConfig(nPartitions = 8, nGroups = 1, nSlices = 2),
      skipBefore: Option[java.sql.Timestamp] = None,
      availableNow: Boolean = true,
      mergeFactor: Int = 0
  ): StreamingQuery = {
    import spark.implicits._
    val schema = spark.emptyDataset[Page].schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 4) // ≙ Portion batching (A2)
      .parquet(inputDir)
      .as[Page]

    val filtered = skipBefore match {
      case Some(cut) => stream.filter(_.warc_ts.compareTo(cut) >= 0) // ≙ P2
      case None      => stream
    }

    val writer = filtered.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Page], batchId: Long) =>
        val segDir = s"$indexDir/segment-$batchId"
        // idempotent: a replayed batch rebuilds the same segment rows
        // (and manifest append dedupes by dir name); a micro-batch within
        // the flush budget is indexed on the driver
        graft.sources.Fsx.delete(segDir)
        IndexBuilder.flushOrBuild(batch.sparkSession, batch, segDir, cfg)
        graft.index.SegmentFamily.append(batch.sparkSession, indexDir, segDir)
        if (mergeFactor > 0)
          graft.index.SegmentFamily.maybeCompact(batch.sparkSession, indexDir, mergeFactor)
        ()
      }

    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("1 second")))
      .start()
  }

  /** Streaming exact dedup with custom state: first-seen doc per text
    * hash is emitted, later duplicates are dropped — across micro-batches
    * and across restarts (state lives in the checkpoint). This is the
    * `KeyValueGroupedDataset.flatMapGroupsWithState` rendition of the
    * reference's in-sink idempotence (T6: monotonic Id + position columns
    * let re-ingested rows be deduplicated, `EventLogReader.cs:105-106`).
    * Within a batch the lowest url wins (deterministic).
    *
    * State-size contract: with `stateTtl = None` one state entry lives
    * PER DISTINCT TEXT HASH FOREVER — correct exactly-once dedup, but
    * only for bounded corpora (the reference's event-log replay window is
    * likewise bounded by the sink's retention). For unbounded streams pass
    * a TTL (e.g. "30 minutes"): state entries idle longer than the TTL
    * are evicted, so memory is bounded by the dedup window — a duplicate
    * arriving after the window is re-emitted (the standard windowed-dedup
    * trade; downstream exact dedup of the at-rest table remains available
    * via [[graft.operators.Dedup.exact]]).
    *
    * Note: processing-time timeouts only fire while the query RUNS — use
    * the TTL with a long-lived `Trigger.ProcessingTime` query (the live
    * tail, T1). One-shot `AvailableNow` replays should keep the default
    * NoTimeout (a one-shot is a bounded corpus by construction).
    */
  def dedupStream(
      spark: SparkSession,
      inputDir: String,
      stateTtl: Option[String] = None
  ): Dataset[(Long, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val schema = spark.emptyDataset[Page].schema
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .as[Page]
      .map(p => (graft.functions.TextFeatures.hashString(p.text), p.url))
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append(), timeout
      ) { (hash: Long, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else if (state.exists) {
          stateTtl.foreach(state.setTimeoutDuration) // refresh the window
          Iterator.empty
        } else {
          state.update(true)
          stateTtl.foreach(state.setTimeoutDuration)
          Iterator.single((hash, rows.map(_._2).min))
        }
      }
  }

  /** Pure streaming aggregation demo: per-(day, term) counts with an
    * event-time watermark (the windowed-agg shape of A1's time bucketing,
    * `ElasticSearchStorage.cs:293-320`, under streaming semantics).
    */
  def termCountsByDay(spark: SparkSession, inputDir: String): DataFrame = {
    import spark.implicits._
    val schema = spark.emptyDataset[Page].schema
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .as[Page]
      .flatMap(p => Analyzer.tokenize(p.text).map(t => (p.warc_ts, t)))
      .toDF("warc_ts", "term")
      .withWatermark("warc_ts", "1 day")
      .groupBy(window($"warc_ts", "1 day").as("day"), $"term")
      .agg(count(lit(1)).as("n"))
      .select($"day.start".as("day"), $"term", $"n")
  }

  /** Standing alerts on the ingest stream (ES percolate / Watcher): the
    * registered query set rides every micro-batch as a broadcast,
    * matching is stateless map-side ([[graft.operators.Percolate]]), so
    * it composes with any sink and adds zero shuffle to the pipeline.
    * Emits (doc_id = xxhash64(url), query_id) per firing alert.
    */
  def percolateStream(
      spark: SparkSession,
      inputDir: String,
      queries: Seq[graft.operators.Percolate.Query]
  ): DataFrame = {
    import spark.implicits._
    val schema = spark.emptyDataset[Page].schema
    val pages = spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .select(xxhash64($"url").as("doc_id"), $"text")
    graft.operators.Percolate.percolate(pages, "doc_id", "text", queries)
  }
}
