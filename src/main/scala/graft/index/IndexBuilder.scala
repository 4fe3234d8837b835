package graft.index

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft._
import graft.functions.{Analyzer, Codec, DenseId}
import graft.sources.HtmlText

/** Spark-native inverted-index build (north rule): the replacement for the
  * reference's "export to Elasticsearch and let ES index" role
  * (`ElasticSearchStorage.cs:95-149`) — we build the postings ourselves.
  *
  * Dataflow (≙ the reference ingest pipeline, SURVEY.md §3.1, rendered
  * Spark-first):
  *
  *   pages scan → extract(html)→text [per-row invariant] → analyze
  *   (tokenize+tf, one map-side pass) → deterministic dense docID
  *   (two-pass, parallelism-independent) → stage analyzed docs to parquet
  *   partitioned by shuffle group [checkpoint ≙ T5] → per group:
  *   shuffle by (term, slice) [slice = doc-range salt: hot-term skew
  *   split] → sortWithinPartitions(term, slice, doc_id) → mapPartitions
  *   block-encode (delta+varbyte, per-block max-impact) → partitioned
  *   write + metrics + checkpoint append.
  *
  * Every stage is deterministic given (corpus, nGroups, nSlices,
  * blockSize) — resume after a kill reproduces a byte-identical index
  * (≙ T6 "effectively exactly-once").
  *
  * Scale notes (100 TB / 10^12 docs):
  *   - no driver-side data paths except tiny per-partition count arrays,
  *     and [[flushOrBuild]]'s driver-side flush of inputs within its
  *     fixed budget ([[FlushMaxRows]], [[FlushMaxTextBytes]]);
  *   - the analyzed staging table is the only extra I/O, and it is what
  *     buys group-level resumability (bounded failure domain — the same
  *     trade the reference makes with sink-stored checkpoints);
  *   - the hottest term is split over nSlices doc-range slices, so the
  *     max shuffle-partition payload is O(nDocs/nSlices), not O(nDocs);
  *   - group jobs read the staging table with partition pruning
  *     (`grp=g`), so each group touches 1/nGroups of the staged bytes.
  */
object IndexBuilder {

  val K1 = 1.2
  val B = 0.75

  /** On-disk layout version. Bump whenever the index format changes
    * (columns, codec, sidecars); readers reject stale caches instead of
    * crashing on missing columns. v3 = v2 + slice-aligned attribute
    * sidecar (`attrs/`); v4 = schema-driven sidecar (declared keyword +
    * numeric fields; attrs schema persisted in meta.json).
    */
  val FormatVersion = 4

  /** `positions`: index token positions (phrase queries) — on by default,
    * matching ES text-field defaults the reference provisions.
    */
  /** `mapSideCombine`: pre-aggregate postings into packed chunks before
    * the exchange (5-8× fewer shuffle bytes, ~20× fewer shuffle ROWS, at
    * extra map CPU) — DEFAULT ON since r5: it is the scale-correct shape
    * for network-shuffled clusters, and the r5 paired A/B measured it
    * ahead at BOTH pinned local levels too (8-core 28.3k vs 17.0k
    * docs/s, 32-core 49.0k vs 23.4k; the row shuffle's cost is the
    * 165M-row spillable sort, which tmpfs scratch does not fix). The
    * row shuffle remains available for page-cache-local media where an
    * earlier host measured it ahead at 32 cores (BASELINE.md r3/r4);
    * output bytes are identical either way (tested).
    */
  /** `attrs`: the declared doc-value sidecar schema (keyword + numeric
    * filter fields — ES provisions ~10 such next to the text fields);
    * persisted in meta.json so merges/purges regenerate the sidecar
    * without the caller re-declaring it.
    */
  final case class BuildConfig(
      nPartitions: Int = 32,
      nGroups: Int = 4,
      nSlices: Int = 16,
      blockSize: Int = 128,
      positions: Boolean = true,
      mapSideCombine: Boolean = true,
      attrs: Seq[AttrSpec] = AttrSchema.Default
  )

  /** Persisted index metadata (≙ the ES index-template the reference
    * installs once, `ElasticSearchStorage.cs:187-243`): layout constants a
    * searcher needs without re-deriving them from data.
    */
  // Control plane (meta, checkpoints) speaks the same Hadoop FileSystem
  // API as the data plane, so index + state live on ONE filesystem — the
  // reference's restart-from-sink invariant (`ElasticSearchStorage.cs:
  // 56-93`): a build against hdfs://…/idx must be resumable from any node.
  def writeMeta(indexDir: String, cfg: BuildConfig): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.createObjectNode()
    doc.put("format", FormatVersion)
    doc.put("n_groups", cfg.nGroups)
    doc.put("n_slices", cfg.nSlices)
    doc.put("block_size", cfg.blockSize)
    doc.put("positions", cfg.positions)
    val arr = mapper.createArrayNode()
    cfg.attrs.foreach { a =>
      val e = mapper.createObjectNode()
      e.put("name", a.name); e.put("kind", a.kind); e.put("sql", a.sql)
      arr.add(e)
    }
    doc.set[com.fasterxml.jackson.databind.JsonNode]("attrs", arr)
    graft.sources.Fsx.writeUtf8(s"$indexDir/meta.json", mapper.writeValueAsString(doc))
  }

  /** Stamped format version of an on-disk index (0 when absent/pre-v3). */
  def readFormatVersion(indexDir: String): Int =
    graft.sources.Fsx.readUtf8Opt(s"$indexDir/meta.json") match {
      case None => 0
      case Some(s) =>
        """"format"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(0)
    }

  def readMeta(indexDir: String): BuildConfig =
    graft.sources.Fsx.readUtf8Opt(s"$indexDir/meta.json") match {
      case None => BuildConfig()
      case Some(s) =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
        def num(k: String, d: Int) = Option(node.get(k)).map(_.asInt).getOrElse(d)
        val attrs = Option(node.get("attrs")) match {
          case Some(a) if a.isArray =>
            (0 until a.size).map { i =>
              val e = a.get(i)
              AttrSpec(e.get("name").asText(), e.get("kind").asText(), e.get("sql").asText())
            }
          case _ => AttrSchema.Default
        }
        BuildConfig(
          nGroups = num("n_groups", 4),
          nSlices = num("n_slices", 16),
          blockSize = num("block_size", 128),
          positions = Option(node.get("positions")).exists(_.asBoolean),
          attrs = attrs
        )
    }

  // ---- checkpoint manifest (JSONL, append-only; ≙ EventLogPosition) ----
  def ckptPath(indexDir: String): String = s"$indexDir/checkpoints.jsonl"

  def completedUnits(indexDir: String): Set[String] =
    graft.sources.Fsx.readUtf8Opt(ckptPath(indexDir)) match {
      case None => Set.empty
      case Some(content) =>
        content.linesIterator
          .flatMap(line => """"unit"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(line).map(_.group(1)))
          .toSet
    }

  private[index] def commitUnitPublic(indexDir: String, unit: String): Unit =
    commitUnit(indexDir, unit)

  private def commitUnit(indexDir: String, unit: String): Unit =
    graft.sources.Fsx.appendLine(ckptPath(indexDir), s"""{"unit":"$unit"}""")

  /** BM25 impact of one posting (multiply by idf for the score term). */
  @inline def impact(tf: Int, dl: Int, avgDl: Double): Double =
    tf / (tf + K1 * (1 - B + B * dl / avgDl))

  /** Test-only chaos hook: when set, the first posting-write task to
    * produce a block dies mid-iteration (after partial local metrics
    * state) — its retry must yield exact, not double-counted, metrics.
    * Local-mode only (same JVM); a no-op in production.
    */
  private[graft] val chaosOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  private val verbose = sys.env.contains("GRAFT_BUILD_VERBOSE")

  /** Driver-side per-stage wall seconds of builds in this JVM (bench
    * evidence: makes scaling residuals attributable per stage). Cleared by
    * the caller between measured builds; label repeats accumulate.
    */
  private[graft] val stageTimes = scala.collection.concurrent.TrieMap.empty[String, Double]

  private def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    stageTimes.updateWith(label) { v => Some(v.getOrElse(0.0) + secs) }
    if (verbose) System.err.println(f"[build] $label: $secs%.2fs")
    r
  }

  /** Build (or resume building) the index for `pages` into `indexDir`.
    * `failAfterGroups`: test hook — throw after committing that many
    * posting groups (resumability test, FIXTURES.md §4).
    */
  def build(
      spark: SparkSession,
      pages: Dataset[Page],
      indexDir: String,
      cfg: BuildConfig = BuildConfig(),
      failAfterGroups: Int = Int.MaxValue
  ): Unit = {
    import spark.implicits._
    require(cfg.nSlices % cfg.nGroups == 0, "nSlices must be a multiple of nGroups")
    val done = completedUnits(indexDir)
    if (done.contains("done")) return
    writeMeta(indexDir, cfg)

    // ---- stage 1: docID assignment + fused docs/text staging ----------
    // ONE table `docs` holds (doc_id, url, warc_ts, lang, doc_len, text),
    // partitioned by doc-range group, written in a single pass:
    //   - dimension readers (query side) column-prune `text` away — the
    //     parquet scan never touches the big column (ReadSchema without
    //     text; verified via explain in tests);
    //   - group jobs read (doc_id, text) of their own grp partition only
    //     (partition pruning) and re-tokenize — the resume checkpoint.
    // Raw text is stored exactly once — an exploded term-row staging
    // table would repeat the term string per posting and cost ~2-3x.
    if (!done.contains("staged")) {
      // typed two-pass dense-id: rows stay JVM tuples through the zip
      // pass (no Row rebuild / converter pass — the r3 bench's second-
      // largest stage was this read). Range bounds come from a url-only
      // projection of the SOURCE (column-pruned scan — the heavy
      // html/text bytes are read once, in the exchange's map pass, not
      // three times as with repartitionByRange's sampling).
      val (withIds, total) =
        timed("dense-id")(DenseId.assignPages(extractText(pages), cfg.nPartitions,
          pages.select(col("url")).as[String]))
      val nDocs = math.max(1L, total)

      // corpus token total rides the write job as an accumulator instead
      // of a separate scan-the-docs-table job afterwards. Accumulator
      // updates inside an action are applied exactly once per successful
      // task, so retried tasks cannot double-count (stats feed BM25 —
      // they must be exact). doc_len uses the count-only tokenizer: same
      // state machine as tokenize() but no token-string allocations.
      val tokenAcc = spark.sparkContext.longAccumulator("graft.total_tokens")
      timed("docs-write")(writeDocs(withIds
        .map { case (id, url, ts, lang, text) =>
          val dl = Analyzer.tokenCount(text)
          tokenAcc.add(dl.toLong)
          (id, url, ts, lang, dl, text)
        }
        .toDF("doc_id", "url", "warc_ts", "lang", "doc_len", "text"), nDocs, cfg, indexDir))

      val totalTokens = tokenAcc.value.longValue()
      val avgDl = if (total > 0) totalTokens.toDouble / total else 0.0
      timed("stats")(writeStats(spark, indexDir, CorpusStats(total, avgDl, totalTokens)))
      commitUnit(indexDir, "staged")
    }

    val nDocs = math.max(1L, readStats(spark, indexDir).n_docs)
    val nSlices = cfg.nSlices
    val withPos = cfg.positions
    // the docs this build staged itself: `text` is there by construction,
    // so even this text read opens the table with its declared schema
    def groupDocs(g: Int) =
      openTable(spark, indexDir, "docs", StagedDocsSchema)
        .where($"grp" === g) // partition pruning: 1/nGroups of the bytes
        .select($"doc_id", $"text")
        .as[(Long, String)]
    val groupInput: Int => DataFrame = { g =>
      groupDocs(g)
        .flatMap { case (id, text) =>
          val slice = rangeOf(id, nSlices, nDocs)
          if (withPos) {
            // positions encoded map-side into self-delimiting varbyte
            // chunks — the shuffle carries compact bytes, and block
            // assembly concatenates without re-encoding
            val (dl, tps) = Analyzer.termPositions(text)
            tps.iterator.map { case (t, ps) =>
              (t, slice, id, ps.length, dl, Codec.encodePosChunk(ps))
            }
          } else {
            val (dl, tfs) = Analyzer.termFreqs(text)
            tfs.iterator.map { case (t, tf) => (t, slice, id, tf, dl, null: Array[Byte]) }
          }
        }
        .toDF("term", "slice", "doc_id", "tf", "doc_len", "pos")
    }
    // Fused tokenize→combine for the (default) mapSideCombine exchange:
    // one typed mapPartitions from (doc_id, text) straight to packed chunk
    // rows. The unfused shape materialized a 6-field row PER POSTING
    // through Catalyst (UnsafeRow encode + decode back to tuples, ~165M
    // rows at bench scale) only for chunkMapSide to re-aggregate them in
    // the SAME task — JFR measured that round trip plus the per-posting
    // iterator/tuple overhead at ~25% of whole-build CPU. Chunk contents
    // and all downstream bytes are identical (OperatorsSpec pins fused ≡
    // unfused; MergeStreamSpec pins combine ≡ row-shuffle blocks).
    val chunkInput: Int => DataFrame = { g =>
      tokenizeChunks(groupDocs(g), nSlices, nDocs, withPos)
    }
    buildGroups(spark, indexDir, cfg, groupInput, failAfterGroups, chunkInput)
  }

  /** Extracted `(url, warc_ts, lang, text)` rows of `pages`, checking
    * the per-row invariant (extracted text byte-identical to the stored
    * text column — enforced here, not assumed). html is dropped here, on
    * the executors, so no exchange or collect downstream carries it.
    */
  private def extractText(pages: Dataset[Page]): Dataset[(String, java.sql.Timestamp, String, String)] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      it.map { p =>
        val extracted = HtmlText.extract(p.html)
        require(extracted == p.text, s"extract invariant violated for ${p.url}")
        (p.url, p.warc_ts, p.lang, extracted)
      }
    }
  }

  /** Adds the doc-range routing columns to docs rows keyed by `doc_id`.
    * `slice` is materialized on the docs row so filtered search can ship
    * doc-filter sets to the right WAND task by equi-key, decoupled from
    * the id→slice formula (fast-merged indexes renumber slices). It MUST
    * use the same integer arithmetic as [[rangeOf]], the posting paths'
    * routing — one routing invariant, one formula (DIV is integral
    * division; the old double `/` could diverge near 2^53 and silently
    * route a doc's attrs to the wrong slice).
    */
  private def withRouting(docs: DataFrame, nDocs: Long, cfg: BuildConfig): DataFrame =
    docs
      .withColumn("slice", least(lit(cfg.nSlices - 1), expr(s"CAST(doc_id * ${cfg.nSlices} DIV $nDocs AS INT)")))
      .withColumn("grp", least(lit(cfg.nGroups - 1), expr(s"CAST(doc_id * ${cfg.nGroups} DIV $nDocs AS INT)")))

  /** Doc `id`'s range among `n` equal doc-id ranges of `nDocs` ids: its
    * slice (n = nSlices) or group (n = nGroups).
    */
  @inline private def rangeOf(id: Long, n: Int, nDocs: Long): Int =
    math.min(n - 1, (id * n / nDocs).toInt)

  /** The `docs` table: (doc_id, url, warc_ts, lang, doc_len, text) rows
    * plus routing columns, partitioned by `grp`.
    */
  private def writeDocs(docs: DataFrame, nDocs: Long, cfg: BuildConfig, indexDir: String): Unit =
    withRouting(docs, nDocs, cfg)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("grp")
      .parquet(s"$indexDir/docs")

  /** The `stats` table (one row) and its `stats.json` sidecar. */
  private def writeStats(spark: SparkSession, indexDir: String, st: CorpusStats): Unit = {
    import spark.implicits._
    Seq(st).toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$indexDir/stats")
    writeStatsJson(indexDir, st)
  }

  /** Posting group g. `grp` comes back as the directory partition column
    * on read. The block payloads (deltas/tfs/dls) are already
    * entropy-coded by our codec — parquet's snappy layer on top buys
    * ~nothing for them and costs CPU; term/metadata columns still get
    * parquet dictionary + RLE encoding, which compression=uncompressed
    * does not disable.
    */
  private def writePostings(blocks: Dataset[PostingRow], indexDir: String, g: Int): Unit =
    blocks.drop("grp")
      .write.mode(SaveMode.Overwrite)
      .option("compression", sys.env.getOrElse("GRAFT_POSTINGS_CODEC", "uncompressed"))
      .parquet(s"$indexDir/postings/grp=$g")

  /** Build metrics of one partition's posting blocks, in (term, slice)
    * order: distinct terms (counted as run transitions), postings, blocks
    * and payload bytes.
    */
  private final class BlockMeter {
    var terms = 0L
    var postings = 0L
    var blocks = 0L
    var bytes = 0L
    private var lastTerm: String = null
    def add(r: PostingRow): Unit = {
      if (r.term != lastTerm) { terms += 1; lastTerm = r.term }
      postings += r.count
      blocks += 1
      bytes += r.deltas.length + r.tfs.length + r.dls.length + r.poss.length
    }
    def row(partition: Int): (Int, Long, Long, Long, Long) = (partition, terms, postings, blocks, bytes)
  }

  /** Group g's build metrics: one committed row per posting-writing
    * partition, from its [[BlockMeter]].
    */
  private def writeMetrics(spark: SparkSession, indexDir: String, g: Int,
                           rows: Seq[(Int, Long, Long, Long, Long)]): Unit = {
    import spark.implicits._
    rows.map { case (pid, terms, postings, blocks, bytes) => (pid, terms, postings, blocks, bytes, "committed") }
      .toDF("partition_id", "terms", "postings", "blocks", "bytes", "status")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$indexDir/build_metrics/grp=$g")
  }

  // ---- driver-side flush: small inputs -------------------------------
  // A small batch (an upsert, a streaming micro-batch) spends nearly all of
  // a distributed build's time on job overhead: ~15 jobs, each stage that
  // writes a table 0.15-0.6 s. Like Lucene's in-memory segment flush, such
  // a batch is gathered to the driver once and indexed there by the
  // build's own tokenize→combine and chunk-merge code, into the same rows.

  /** Flush budget: text bytes as the driver heap holds them (2 bytes a
    * char), about 1,000 pages of 530 chars. Sized by `FlushProbe` on a
    * 4-core host (local[4], nSlices 4, 3 GiB heap): the flush beat the
    * build up to 1 MiB of text (1.56 vs 1.85 s median at 1,000 pages) and
    * lost at 2 MiB (1.89 vs 1.75 s) and at 16 MiB (6.2 vs 4.6 s, nSlices
    * 16). At 1 MiB its peak live heap was 36 MiB and its largest write
    * task 3.4 MiB. Its one-thread postings step grows with nSlices, so
    * with more slices it breaks even sooner (nSlices 16: wins at 0.3 MiB,
    * loses at 1 MiB).
    */
  val FlushMaxTextBytes: Long = 1L << 20

  /** Flush budget in rows, for short texts: the flush beat the build on
    * 1,024 16-word pages (1.27 vs 1.64 s median, same probe) and only
    * broke even on 4,096 (3.46 vs 3.54 s; it lost on 4,096 at nSlices 16,
    * 2.5 vs 1.9 s).
    */
  val FlushMaxRows: Int = 1024

  /** Index `pages` into `indexDir` on the driver when they fit the flush
    * budget ([[FlushMaxRows]], [[FlushMaxTextBytes]]), and with [[build]]
    * otherwise. The gate ([[gather]]) brings the extracted rows to the
    * driver; the flush then writes every table [[build]] writes,
    * row-identical to it, each as a single-partition write, and commits
    * the same checkpoint units — so a flush that dies part-way resumes
    * through [[build]]. An index that already has a committed unit goes
    * to [[build]] directly.
    */
  def flushOrBuild(
      spark: SparkSession,
      pages: Dataset[Page],
      indexDir: String,
      cfg: BuildConfig = BuildConfig()
  ): Unit =
    flushOrBuild(spark, pages, indexDir, cfg, FlushMaxRows, FlushMaxTextBytes, Int.MaxValue)

  /** [[flushOrBuild]] with the budget and [[build]]'s `failAfterGroups`
    * hook as parameters (tests). True when the index was flushed.
    */
  private[graft] def flushOrBuild(
      spark: SparkSession,
      pages: Dataset[Page],
      indexDir: String,
      cfg: BuildConfig,
      maxRows: Int,
      maxTextBytes: Long,
      failAfterGroups: Int
  ): Boolean = {
    require(cfg.nSlices % cfg.nGroups == 0, "nSlices must be a multiple of nGroups")
    val rows =
      if (completedUnits(indexDir).nonEmpty) None
      else timed("dense-id")(gather(pages, maxRows, maxTextBytes))
    rows match {
      case Some(r) => flush(spark, r, indexDir, cfg, failAfterGroups); true
      case None => build(spark, pages, indexDir, cfg, failAfterGroups); false
    }
  }

  private def textBytes(text: String): Long = 2L * text.length

  private type Extracted = (String, java.sql.Timestamp, String, String)

  /** The gate: the extracted rows of `pages` on the driver, or None when
    * they exceed `maxRows` rows or `maxTextBytes` of text. The driver
    * never takes in more than the budget, however many partitions the
    * input has: in the first job each of the n partitions ships its rows
    * only while they fit a 1/n share of the budget, and otherwise just
    * its row and text counts (counted until the partition alone passes a
    * cap). When the totals fit but some partitions passed their share (a
    * skewed input), a second job gathers those partitions, each limited
    * to the size the first job counted for it.
    */
  private def gather(pages: Dataset[Page], maxRows: Int, maxTextBytes: Long): Option[Array[Extracted]] = {
    val rdd = extractText(pages).rdd
    val n = rdd.getNumPartitions
    // per partition: (rows, text bytes, its rows, or null past its limit)
    def ship(parts: Seq[Int], limit: Int => (Long, Long)): Array[(Long, Long, Array[Extracted])] = {
      val limits = parts.map(p => p -> limit(p)).toMap
      rdd.sparkContext.runJob(rdd, (ctx: org.apache.spark.TaskContext, it: Iterator[Extracted]) => {
        val (keepRows, keepBytes) = limits(ctx.partitionId)
        var kept = ArrayBuffer.empty[Extracted]
        var rows = 0L
        var bytes = 0L
        while (it.hasNext && rows <= maxRows && bytes <= maxTextBytes) {
          val r = it.next()
          rows += 1
          bytes += textBytes(r._4)
          if (kept != null) {
            if (rows <= keepRows && bytes <= keepBytes) kept += r else kept = null
          }
        }
        (rows, bytes, if (kept == null) null else kept.toArray)
      }, parts)
    }
    val first = ship(0 until n, _ => (maxRows.toLong / n, maxTextBytes / n))
    if (first.map(_._1).sum > maxRows || first.map(_._2).sum > maxTextBytes) None
    else {
      val skewed = (0 until n).filter(p => first(p)._3 == null)
      val second = if (skewed.isEmpty) Array.empty[(Long, Long, Array[Extracted])]
        else ship(skewed, p => (first(p)._1, first(p)._2))
      // a partition that reads differently the second time: build instead
      if (second.exists(_._3 == null)) None
      else Some((first ++ second).flatMap(r => Option(r._3)).flatten)
    }
  }

  /** Index gathered rows into `indexDir` on the driver: dense ids in
    * DenseId's UTF-8 url order, then the tables and checkpoint units of
    * [[build]] in its order, timed under its stage labels. Each table is
    * written from a local relation as one single-partition job; the attr
    * SQL evaluates over a local relation on the driver (no job).
    */
  private def flush(
      spark: SparkSession,
      rows: Array[Extracted],
      indexDir: String,
      cfg: BuildConfig,
      failAfterGroups: Int
  ): Unit = {
    import spark.implicits._
    writeMeta(indexDir, cfg)
    val docs = timed("dense-id")(rows.sortWith((a, b) => DenseId.compareUtf8Strings(a._1, b._1) < 0))
    val total = docs.length.toLong
    val nDocs = math.max(1L, total)
    val docRows = docs.indices.map { i =>
      val (url, ts, lang, text) = docs(i)
      (i.toLong, url, ts, lang, Analyzer.tokenCount(text), text)
    }
    val docsDf = spark.createDataset(docRows).toDF("doc_id", "url", "warc_ts", "lang", "doc_len", "text")
    timed("docs-write")(writeDocs(docsDf.coalesce(1), nDocs, cfg, indexDir))
    val totalTokens = docRows.iterator.map(_._5.toLong).sum
    val avgDl0 = if (total > 0) totalTokens.toDouble / total else 0.0
    timed("stats")(writeStats(spark, indexDir, CorpusStats(total, avgDl0, totalTokens)))
    commitUnit(indexDir, "staged")

    // the avgdl buildGroups encodes with: the one stats.json holds
    val avgDl = { val a = readStats(spark, indexDir).avg_dl; if (a > 0) a else 1.0 }
    val dfs = new java.util.HashMap[String, Array[Long]]() // term → (doc_freq, total_tf)
    // chunk rows in the order the build's exchange sorts them: (term in
    // UTF-8 order, slice, min_doc)
    type Chunk = (String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])
    val chunkOrder = new java.util.Comparator[Chunk] {
      def compare(a: Chunk, b: Chunk): Int = {
        val t = DenseId.compareUtf8Strings(a._1, b._1)
        if (t != 0) t
        else if (a._2 != b._2) Integer.compare(a._2, b._2)
        else java.lang.Long.compare(a._3, b._3)
      }
    }
    (0 until cfg.nGroups).foreach { g =>
      if (g >= failAfterGroups) throw new RuntimeException(s"injected failure before grp-$g")
      // the build's own map side (fused tokenize→combine) and reducer
      // (chunk merge into blocks), run as one task on the driver
      val blocks = timed(s"postings-grp-$g") {
        val docsOfGroup = docs.indices.iterator.filter(i => rangeOf(i, cfg.nGroups, nDocs) == g)
          .map(i => (i.toLong, docs(i)._4))
        val chunks = chunkRows(docsOfGroup, cfg.nSlices, nDocs, cfg.positions, chunkFlushEvery).toArray
        java.util.Arrays.sort(chunks, chunkOrder)
        val blocks = mergeChunksToBlocks(chunks.iterator.map(c => (c._1, c._2, c._4, c._5, c._6, c._7, c._8)),
          g, cfg.blockSize, avgDl).toArray
        writePostings(spark.createDataset(blocks.toSeq).coalesce(1), indexDir, g)
        blocks
      }
      timed(s"metrics-grp-$g") {
        val meter = new BlockMeter
        blocks.foreach(meter.add)
        writeMetrics(spark, indexDir, g, if (meter.blocks > 0) Seq(meter.row(0)) else Nil)
      }
      blocks.foreach { r =>
        val acc = dfs.computeIfAbsent(r.term, _ => new Array[Long](2))
        acc(0) += r.count; acc(1) += r.tf_sum
      }
      commitUnit(indexDir, s"grp-$g")
    }

    timed("attrs") {
      val records = withRouting(docsDf, nDocs, cfg).select(AttrSidecar.recordColumns(cfg.attrs): _*).collect()
      AttrSidecar.writeSlices(AttrSidecar.attrsDir(indexDir), cfg.attrs, records.iterator)
    }
    commitUnit(indexDir, "attrs")

    timed("terms") {
      val terms = scala.jdk.CollectionConverters.MapHasAsScala(dfs).asScala.toArray
        .sortWith((a, b) => DenseId.compareUtf8Strings(a._1, b._1) < 0)
        .map { case (t, acc) => TermStat(t, acc(0), acc(1)) }
      spark.createDataset(terms.toSeq).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/terms")
    }
    commitUnit(indexDir, "terms")
    commitUnit(indexDir, "done")
  }

  /** Stages 2-3: posting groups + term dictionary. `groupInput(g)` must
    * return the term-doc rows `(term, slice, doc_id, tf, doc_len)` of
    * doc-range group g (slice nested in group: nSlices % nGroups == 0).
    * Shared by [[build]] (tokenizes staged text) and [[SegmentMerge]]
    * (decodes source-segment blocks) — both get group-level resumability.
    */
  def buildGroups(
      spark: SparkSession,
      indexDir: String,
      cfg: BuildConfig,
      groupInput: Int => DataFrame,
      failAfterGroups: Int = Int.MaxValue,
      chunkInput: Int => DataFrame = null
  ): Unit = {
    import spark.implicits._
    val st = readStats(spark, indexDir)
    val avgDl = if (st.avg_dl > 0) st.avg_dl else 1.0

    // ---- stage 2: posting groups (resumable unit = one group) ---------
    val blockSize = cfg.blockSize
    var groupsBuilt = 0
    (0 until cfg.nGroups).foreach { g =>
      val unit = s"grp-$g"
      if (!completedUnits(indexDir).contains(unit)) {
        if (groupsBuilt >= failAfterGroups)
          throw new RuntimeException(s"injected failure before $unit")
        val partsPerGroup = math.max(1, cfg.nPartitions / cfg.nGroups)
        // per-partition build metrics ride the write job as an accumulator
        // (one add per completed task; action-side accumulators are
        // exactly-once per successful task) — no second read-the-postings
        // job per group. Input is sorted by term, so distinct terms are
        // counted as run transitions.
        val metricsAcc =
          spark.sparkContext.collectionAccumulator[(Int, Long, Long, Long, Long)](s"graft.metrics.grp-$g")
        // Metrics-wrapped block stream shared by both exchange shapes.
        def metered(base: Iterator[PostingRow]): Iterator[PostingRow] = {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val meter = new BlockMeter
          new Iterator[PostingRow] {
            private var reported = false
            def hasNext: Boolean = {
              // volatile read only on the production path (CAS just for tests)
              if (meter.blocks > 0 && chaosOnce.get && chaosOnce.compareAndSet(true, false))
                throw new RuntimeException("injected mid-task chaos")
              val h = base.hasNext
              if (!h && !reported) {
                reported = true
                if (meter.blocks > 0) metricsAcc.add(meter.row(pid))
              }
              h
            }
            def next(): PostingRow = {
              val r = base.next()
              meter.add(r)
              r
            }
          }
        }
        // Two exchange shapes, identical output bytes (tested):
        //  - mapSideCombine (default): each map task pre-aggregates
        //    postings per (term, slice) into packed varbyte chunk rows
        //    (~6-9 B/posting vs ~50 B row-wise; term string once per task
        //    instead of per posting); the reducer merges sorted chunks
        //    straight into blocks (primitive k-way merge — no per-posting
        //    tuples, r6). Deterministic and independent of map boundaries.
        //  - row shuffle: one row per posting through Spark's spillable
        //    sort — selectable for page-cache-local media where an earlier
        //    host measured it ahead at 32 cores (BASELINE.md r3/r4).
        val blocks =
          if (cfg.mapSideCombine) {
            val chunks =
              if (chunkInput != null) chunkInput(g) else chunkMapSide(groupInput(g))
            chunks
              .repartition(partsPerGroup, $"term", $"slice")
              .sortWithinPartitions("term", "slice", "min_doc")
              .select($"term", $"slice", $"n", $"ids", $"tfs", $"dls", $"pos")
              .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
              .mapPartitions(chunkIt => metered(mergeChunksToBlocks(chunkIt, g, blockSize, avgDl)))
          } else
            groupInput(g)
              .repartition(partsPerGroup, $"term", $"slice")
              .sortWithinPartitions("term", "slice", "doc_id")
              .select($"term", $"slice", $"doc_id", $"tf", $"doc_len", $"pos")
              .as[(String, Int, Long, Int, Int, Array[Byte])]
              .mapPartitions(it => metered(blockify(it, g, blockSize, avgDl)))
        timed(s"postings-grp-$g")(writePostings(blocks, indexDir, g))

        val metricRows = scala.jdk.CollectionConverters
          .ListHasAsScala(metricsAcc.value).asScala.toSeq.sortBy(_._1)
        timed(s"metrics-grp-$g")(writeMetrics(spark, indexDir, g, metricRows))
        commitUnit(indexDir, unit)
        groupsBuilt += 1
      }
    }

    // ---- stage 2.5: slice-aligned attribute sidecar --------------------
    // doc values for filter context (ES analog): one compact file per
    // slice, read node-locally by the filtered-WAND task — filtered
    // search then never exchanges doc ids (see AttrSidecar).
    if (!completedUnits(indexDir).contains("attrs")) {
      timed("attrs")(AttrSidecar.writeAttrs(spark, indexDir, cfg.nSlices, cfg.attrs))
      commitUnit(indexDir, "attrs")
    }

    // ---- stage 3: term dictionary (df per term) ------------------------
    // Derived from posting-block METADATA (count + tf_sum columns written
    // at encode time), not by re-shuffling every term-doc row or decoding
    // tf bytes: the scan is column-pruned to 3 small columns and the
    // input is ~blockSize× smaller than the posting stream. Each
    // (term, slice) sub-list lives in exactly one partition, so summing
    // block counts per term is exact.
    if (!completedUnits(indexDir).contains("terms")) timed("terms") {
      readPostings(spark, indexDir)
        .select($"term", $"count".cast("long").as("doc_freq"), $"tf_sum".as("total_tf"))
        .groupBy($"term")
        .agg(sum($"doc_freq").as("doc_freq"), sum($"total_tf").as("total_tf"))
        .repartitionByRange(math.max(1, cfg.nPartitions / 4), $"term")
        .sortWithinPartitions("term")
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/terms")
      commitUnit(indexDir, "terms")
    }

    commitUnit(indexDir, "done")
  }

  private val EmptyBytes = Array.empty[Byte]

  /** Growable per-(term, slice) posting buffer for the map-side combine.
    * Primitive arrays throughout; position chunks are appended into ONE
    * shared byte buffer with an offsets array (no per-posting objects —
    * millions of tiny byte[]s would dominate the young gen).
    */
  private final class ChunkBuf {
    var ids = new Array[Long](8)
    var tfs = new Array[Int](8)
    var dls = new Array[Int](8)
    var posOff = new Array[Int](9) // posOff(i)..posOff(i+1) = posting i's bytes
    var posBytes = new Array[Byte](32)
    var posLen = 0
    var hasPos = true
    var n = 0
    def add(id: Long, tf: Int, dl: Int, pos: Array[Byte]): Unit = {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n * 2)
        tfs = java.util.Arrays.copyOf(tfs, n * 2)
        dls = java.util.Arrays.copyOf(dls, n * 2)
        posOff = java.util.Arrays.copyOf(posOff, n * 2 + 1)
      }
      ids(n) = id; tfs(n) = tf; dls(n) = dl
      if (pos == null) hasPos = false
      else if (hasPos) {
        while (posLen + pos.length > posBytes.length)
          posBytes = java.util.Arrays.copyOf(posBytes, posBytes.length * 2)
        System.arraycopy(pos, 0, posBytes, posLen, pos.length)
        posLen += pos.length
      }
      posOff(n + 1) = posLen
      n += 1
    }
    /** Streaming per-token-occurrence append (fused tokenize path): the
      * FIRST occurrence of (doc, term) opens a posting (tf=1, raw first
      * position); further occurrences of the same doc bump the open
      * posting's tf and append a position gap. Token scan order is
      * ascending positions, so the produced bytes are exactly
      * add(id, tf, dl, encodePosChunk(positions)) without any per-doc
      * term→positions map or per-posting arrays. Returns true iff a NEW
      * posting was opened (callers patch its dl via [[patchLastDl]] once
      * the doc's token count is known — the streaming scan only learns dl
      * at end of doc).
      */
    private var prevPos = 0
    def appendOcc(id: Long, pos: Int, withPos: Boolean): Boolean = {
      if (n > 0 && ids(n - 1) == id) {
        tfs(n - 1) += 1
        if (withPos) { writePosVarint(pos - prevPos); prevPos = pos; posOff(n) = posLen }
        false
      } else {
        if (n == ids.length) {
          ids = java.util.Arrays.copyOf(ids, n * 2)
          tfs = java.util.Arrays.copyOf(tfs, n * 2)
          dls = java.util.Arrays.copyOf(dls, n * 2)
          posOff = java.util.Arrays.copyOf(posOff, n * 2 + 1)
        }
        ids(n) = id; tfs(n) = 1; dls(n) = 0
        if (withPos) { writePosVarint(pos); prevPos = pos } else hasPos = false
        posOff(n + 1) = posLen
        n += 1
        true
      }
    }
    @inline def patchLastDl(dl: Int): Unit = dls(n - 1) = dl
    @inline private def writePosVarint(v: Int): Unit = {
      if (posLen + 5 > posBytes.length)
        posBytes = java.util.Arrays.copyOf(posBytes, math.max(posBytes.length * 2, posLen + 8))
      if (v >>> 7 == 0) { // single-byte gap: the overwhelmingly common case
        posBytes(posLen) = v.toByte; posLen += 1
      } else {
        var x = v
        while ((x >>> 7) != 0) {
          posBytes(posLen) = ((x & 0x7f) | 0x80).toByte; posLen += 1
          x >>>= 7
        }
        posBytes(posLen) = x.toByte; posLen += 1
      }
    }
  }

  /** Map-side combine: aggregate each task's postings per (term, slice)
    * into one encoded chunk row `(term, slice, min_doc, n, ids, tfs, dls,
    * pos)` — ids as sorted varbyte deltas, tf/dl as varbytes, positions
    * as concatenated self-delimiting chunks. The exchange then moves the
    * term string once per (term, slice, task) and ~6-9 packed bytes per
    * posting instead of a ~50-byte row per posting.
    *
    * Task memory is HARD-BOUNDED: every `GRAFT_CHUNK_FLUSH` postings
    * (default 2M ≈ 50-80 MB packed) the whole buffer map drains into
    * chunk rows and clears — a task may emit several chunks per
    * (term, slice); the reducer merges them anyway. Vocabulary size and
    * input-split size therefore cannot OOM the combine.
    */
  /** Drain one (term, slice) buffer into a chunk row. Fast path: scan
    * order is ascending docID for every tokenize-fed buffer — detected in
    * one pass and emitted with straight copies; the permuting sort only
    * runs for genuinely unsorted inputs (merge stages). Bytes identical
    * either way.
    */
  private def emitChunk(term: String, slice: Int, b: ChunkBuf)
      : (String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    var asc = true
    var j = 1
    while (asc && j < b.n) { if (b.ids(j - 1) > b.ids(j)) asc = false; j += 1 }
    if (asc) {
      val idArr = java.util.Arrays.copyOf(b.ids, b.n)
      val tfArr = java.util.Arrays.copyOf(b.tfs, b.n)
      val dlArr = java.util.Arrays.copyOf(b.dls, b.n)
      val posB =
        if (!b.hasPos || b.posLen == 0) EmptyBytes
        else java.util.Arrays.copyOf(b.posBytes, b.posLen)
      (term, slice, idArr(0), b.n,
        Codec.encodeDeltas(idArr), Codec.encodeInts(tfArr), Codec.encodeInts(dlArr), posB)
    } else {
      val sorted = Array.range(0, b.n).sortBy(b.ids(_))
      val idArr = new Array[Long](b.n)
      val tfArr = new Array[Int](b.n)
      val dlArr = new Array[Int](b.n)
      j = 0
      while (j < b.n) {
        idArr(j) = b.ids(sorted(j)); tfArr(j) = b.tfs(sorted(j)); dlArr(j) = b.dls(sorted(j))
        j += 1
      }
      val posB =
        if (!b.hasPos || b.posLen == 0) EmptyBytes
        else {
          val out = new Array[Byte](b.posLen)
          var o = 0
          var p = 0
          while (p < b.n) {
            val s = b.posOff(sorted(p)); val e = b.posOff(sorted(p) + 1)
            System.arraycopy(b.posBytes, s, out, o, e - s)
            o += e - s
            p += 1
          }
          out
        }
      (term, slice, idArr(0), b.n,
        Codec.encodeDeltas(idArr), Codec.encodeInts(tfArr), Codec.encodeInts(dlArr), posB)
    }
  }

  /** Open-addressing (term, slice) → ChunkBuf table for the fused
    * combine, probed STRAIGHT off a token's [start, end) char span in the
    * source text — no per-occurrence String allocation, no nested map
    * (the tokenize()-based shape allocated one lowercased String per
    * token occurrence, ~tokens-per-corpus young-gen garbage; JFR r6:
    * String building + map probes were ~20% of whole-build CPU). The
    * stored key is the LOWERCASED term (what tokenize() emits): ASCII
    * spans hash/compare with the trivial 'A'..'Z' map in place; any
    * non-ASCII span falls back to substring().toLowerCase(Locale.ROOT)
    * once and probes by the materialized key (full Unicode lowercasing
    * can change string length, so span-compare is ASCII-only).
    * Hash = lowercased String.hashCode (identical on both paths).
    */
  private final class TermChunkTable(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCap - 1)) * 2
    private var keys = new Array[String](cap)
    private var hashes = new Array[Int](cap)
    private var slices = new Array[Int](cap)
    private var bufs = new Array[ChunkBuf](cap)
    private var size = 0

    @inline private def lowerAscii(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

    @inline private def asciiEquals(key: String, text: String, start: Int, end: Int): Boolean = {
      if (key.length != end - start) return false
      var i = 0
      while (i < key.length) {
        if (key.charAt(i) != lowerAscii(text.charAt(start + i))) return false
        i += 1
      }
      true
    }

    private def grow(): Unit = {
      val oldKeys = keys; val oldHashes = hashes; val oldSlices = slices; val oldBufs = bufs
      cap *= 2
      keys = new Array[String](cap)
      hashes = new Array[Int](cap)
      slices = new Array[Int](cap)
      bufs = new Array[ChunkBuf](cap)
      var i = 0
      while (i < oldKeys.length) {
        if (oldKeys(i) != null) {
          var idx = (oldHashes(i) * 31 + oldSlices(i)) & (cap - 1)
          while (keys(idx) != null) idx = (idx + 1) & (cap - 1)
          keys(idx) = oldKeys(i); hashes(idx) = oldHashes(i)
          slices(idx) = oldSlices(i); bufs(idx) = oldBufs(i)
        }
        i += 1
      }
    }

    /** Buf for the ASCII token span [start, end) at `slice` (insert on
      * miss). `h` is the lowercased span's String.hashCode, computed by
      * the token scan itself (it touches every char anyway).
      */
    def probeAscii(text: String, start: Int, end: Int, slice: Int, h: Int): ChunkBuf = {
      var idx = (h * 31 + slice) & (cap - 1)
      while (true) {
        val k = keys(idx)
        if (k == null) {
          val chars = new Array[Char](end - start)
          var i = 0
          while (i < chars.length) { chars(i) = lowerAscii(text.charAt(start + i)); i += 1 }
          return insertAt(idx, new String(chars), h, slice)
        }
        if (hashes(idx) == h && slices(idx) == slice && asciiEquals(k, text, start, end))
          return bufs(idx)
        idx = (idx + 1) & (cap - 1)
      }
      null // unreachable
    }

    /** Buf for an already-lowercased term (non-ASCII slow path). */
    def probeKey(term: String, slice: Int): ChunkBuf = {
      val h = term.hashCode
      var idx = (h * 31 + slice) & (cap - 1)
      while (true) {
        val k = keys(idx)
        if (k == null) return insertAt(idx, term, h, slice)
        if (hashes(idx) == h && slices(idx) == slice && k == term) return bufs(idx)
        idx = (idx + 1) & (cap - 1)
      }
      null // unreachable
    }

    private def insertAt(idx0: Int, term: String, h: Int, slice: Int): ChunkBuf = {
      val b = new ChunkBuf
      keys(idx0) = term; hashes(idx0) = h; slices(idx0) = slice; bufs(idx0) = b
      size += 1
      if (size * 4 > cap * 3) grow() // load factor 0.75
      b
    }

    /** Drain every (term, slice, buf) entry and reset to a fresh table. */
    def drain(): Iterator[(String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])] = {
      val k = keys; val s = slices; val b = bufs
      keys = new Array[String](cap)
      hashes = new Array[Int](cap)
      slices = new Array[Int](cap)
      bufs = new Array[ChunkBuf](cap)
      size = 0
      (0 until k.length).iterator
        .filter(i => k(i) != null)
        .map(i => emitChunk(k(i), s(i), b(i)))
    }
  }

  /** Fused tokenize→combine (the r6 default map side of the build): one
    * typed pass from (doc_id, text) to packed chunk rows — tokenization,
    * position varint encode, and per-(term, slice) aggregation in the
    * same loop, no per-posting row materialization (the unfused shape
    * paid an UnsafeRow encode+decode per posting; JFR: ~25% of build
    * CPU) and no per-occurrence token String (the scanTokens span probe,
    * r6 opt round). Flush bound and chunk layout identical to
    * [[chunkMapSide]].
    */
  private[index] def tokenizeChunks(
      docs: org.apache.spark.sql.Dataset[(Long, String)],
      nSlices: Int,
      nDocs: Long,
      withPos: Boolean
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val flushEvery = chunkFlushEvery
    docs
      .mapPartitions((it: Iterator[(Long, String)]) => chunkRows(it, nSlices, nDocs, withPos, flushEvery))
      .toDF("term", "slice", "min_doc", "n", "ids", "tfs", "dls", "pos")
  }

  /** Postings a combine buffers before it drains into chunk rows. */
  private def chunkFlushEvery: Long = sys.env.getOrElse("GRAFT_CHUNK_FLUSH", "2000000").toLong

  /** The fused tokenize→combine body of one task (or of the driver-side
    * flush): (doc_id, text) rows in, packed chunk rows `(term, slice,
    * min_doc, n, ids, tfs, dls, pos)` out, drained every `flushEvery`
    * postings.
    */
  private def chunkRows(
      it: Iterator[(Long, String)],
      nSlices: Int,
      nDocs: Long,
      withPos: Boolean,
      flushEvery: Long
  ): Iterator[(String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])] =
    new Iterator[(String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])] {
      private val table = new TermChunkTable(1 << 13)
      private var pending: Iterator[(String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])] = Iterator.empty
      // bufs whose LAST posting belongs to the doc being scanned —
      // their dl field is patched once the doc's token count is known
      // (the streaming scan can't know dl up front)
      private var touched = new Array[ChunkBuf](256)
      private var nTouched = 0
      private final class DocSink extends Analyzer.TokenSink {
        var docId = 0L
        var slice = 0
        def token(text: String, start: Int, end: Int, index: Int, ascii: Boolean, hash: Int): Unit = {
          val b =
            if (ascii) table.probeAscii(text, start, end, slice, hash)
            else table.probeKey(
              text.substring(start, end).toLowerCase(java.util.Locale.ROOT), slice)
          if (b.appendOcc(docId, index, withPos)) {
            if (nTouched == touched.length)
              touched = java.util.Arrays.copyOf(touched, nTouched * 2)
            touched(nTouched) = b
            nTouched += 1
          }
        }
      }
      private val sink = new DocSink

      private def refill(): Unit = {
        var consumed = 0L
        while (it.hasNext && consumed < flushEvery) {
          val (id, text) = it.next()
          // flush only at doc boundaries so a (term, doc) posting can
          // never split across chunks
          sink.docId = id
          sink.slice = rangeOf(id, nSlices, nDocs)
          val dl = Analyzer.scanTokens(text, sink)
          var t = 0
          while (t < nTouched) { touched(t).patchLastDl(dl); t += 1 }
          nTouched = 0
          consumed += dl
        }
        pending = table.drain()
      }

      def hasNext: Boolean = {
        while (!pending.hasNext && it.hasNext) refill()
        pending.hasNext
      }
      def next(): (String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException
        pending.next()
      }
    }

  private[index] def chunkMapSide(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val flushEvery = chunkFlushEvery
    df.select(col("term"), col("slice"), col("doc_id"), col("tf"), col("doc_len"), col("pos"))
      .as[(String, Int, Long, Int, Int, Array[Byte])]
      .mapPartitions { (it: Iterator[(String, Int, Long, Int, Int, Array[Byte])]) =>
        new Iterator[(String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])] {
          private val byTerm =
            new scala.collection.mutable.AnyRefMap[String, scala.collection.mutable.LongMap[ChunkBuf]](1 << 12)
          private var pending: Iterator[(String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])] = Iterator.empty

          private def refill(): Unit = {
            var consumed = 0L
            while (it.hasNext && consumed < flushEvery) {
              val (term, slice, id, tf, dl, pos) = it.next()
              val bySlice = byTerm.getOrElseUpdate(term, new scala.collection.mutable.LongMap[ChunkBuf](2))
              bySlice.getOrNull(slice.toLong) match {
                case null =>
                  val b = new ChunkBuf; b.add(id, tf, dl, pos); bySlice.update(slice.toLong, b)
                case b => b.add(id, tf, dl, pos)
              }
              consumed += 1
            }
            val drained = byTerm.toArray // materialize before clearing
            byTerm.clear()
            pending = drained.iterator.flatMap { case (term, bySlice) =>
              bySlice.iterator.map { case (slice, b) => emitChunk(term, slice.toInt, b) }
            }
          }

          def hasNext: Boolean = {
            while (!pending.hasNext && it.hasNext) refill()
            pending.hasNext
          }
          def next(): (String, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
            if (!hasNext) throw new NoSuchElementException
            pending.next()
          }
        }
      }
      .toDF("term", "slice", "min_doc", "n", "ids", "tfs", "dls", "pos")
  }

  /** Reducer side of the combine: chunks arrive sorted by (term, slice);
    * each run's chunks are decoded, merged, and re-sorted by docID so the
    * downstream blockify output is deterministic and independent of
    * map-task boundaries. Peak memory per run = one (term, slice)
    * sub-list — bounded at O(nDocs/nSlices) by the hot-term salting
    * contract.
    */
  private[graft] def mergeChunks(
      chunkIt: Iterator[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
  ): Iterator[(String, Int, Long, Int, Int, Array[Byte])] = {
    val in = chunkIt.buffered
    new Iterator[(String, Int, Long, Int, Int, Array[Byte])] {
      private var curTerm: String = _
      private var curSlice: Int = -1
      private var run: Array[(Long, Int, Int, Array[Byte])] = _
      private var i = 0
      private def loadRun(): Unit = {
        val head = in.head
        curTerm = head._1; curSlice = head._2
        val buf = new ArrayBuffer[(Long, Int, Int, Array[Byte])](head._3 * 2)
        while (in.hasNext && in.head._1 == curTerm && in.head._2 == curSlice) {
          val (_, _, n, ids, tfs, dls, pos) = in.next()
          val idArr = Codec.decodeDeltas(ids, n)
          val tfArr = Codec.decodeInts(tfs, n)
          val dlArr = Codec.decodeInts(dls, n)
          val posChunks =
            if (pos == null || pos.isEmpty) null else Codec.splitPosChunks(pos, tfArr)
          var j = 0
          while (j < n) {
            buf += ((idArr(j), tfArr(j), dlArr(j), if (posChunks == null) null else posChunks(j)))
            j += 1
          }
        }
        run = buf.toArray.sortBy(_._1)
        i = 0
      }
      def hasNext: Boolean = (run != null && i < run.length) || in.hasNext
      def next(): (String, Int, Long, Int, Int, Array[Byte]) = {
        if (run == null || i >= run.length) loadRun()
        val r = run(i)
        i += 1
        (curTerm, curSlice, r._1, r._2, r._3, r._4)
      }
    }
  }

  /** Fused reducer (r6): chunks sorted by (term, slice, min_doc) merge
    * STRAIGHT into posting blocks — primitive k-way merge over the
    * decoded chunk arrays, no per-posting tuple objects. The old shape
    * (`blockify(mergeChunks(it))`) allocated two boxed tuples per posting
    * (~330M at bench scale) plus a boxed sort per run; output PostingRows
    * are identical (pinned by an OperatorsSpec equivalence test and the
    * MergeStreamSpec combine≡row-shuffle bytes test). Peak memory per run
    * is unchanged: one decoded (term, slice) sub-list, O(nDocs/nSlices)
    * by the hot-term salting contract.
    */
  private[graft] def mergeChunksToBlocks(
      chunkIt: Iterator[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])],
      grp: Int,
      blockSize: Int,
      avgDl: Double
  ): Iterator[PostingRow] = {
    val in = chunkIt.buffered
    new Iterator[PostingRow] {
      private var term: String = _
      private var slice = -1
      private var blockId = 0
      private var n = 0
      private var emitted = 0
      private var runIds: Array[Long] = _
      private var runTfs: Array[Int] = _
      private var runDls: Array[Int] = _
      private var runPos: Array[Byte] = _ // null ⇒ no positions in run
      private var runPosOff: Array[Int] = _

      private def loadRun(): Unit = {
        val head = in.head
        term = head._1; slice = head._2; blockId = 0
        var k = 0
        var total = 0
        var cap = 8
        var cIds = new Array[Array[Long]](cap)
        var cTfs = new Array[Array[Int]](cap)
        var cDls = new Array[Array[Int]](cap)
        var cPos = new Array[Array[Byte]](cap)
        var cOff = new Array[Array[Int]](cap)
        while (in.hasNext && in.head._1 == term && in.head._2 == slice) {
          val (_, _, cn, idsB, tfsB, dlsB, posB) = in.next()
          if (k == cap) {
            cap *= 2
            cIds = java.util.Arrays.copyOf(cIds, cap)
            cTfs = java.util.Arrays.copyOf(cTfs, cap)
            cDls = java.util.Arrays.copyOf(cDls, cap)
            cPos = java.util.Arrays.copyOf(cPos, cap)
            cOff = java.util.Arrays.copyOf(cOff, cap)
          }
          val tfArr = Codec.decodeInts(tfsB, cn)
          cIds(k) = Codec.decodeDeltas(idsB, cn)
          cTfs(k) = tfArr
          cDls(k) = Codec.decodeInts(dlsB, cn)
          if (posB != null && posB.length > 0) {
            cPos(k) = posB
            val o = new Array[Int](cn + 1)
            val r = new Codec.PosReader(posB)
            var j = 0
            while (j < cn) { r.skipPositions(tfArr(j)); o(j + 1) = r.byteOffset; j += 1 }
            cOff(k) = o
          }
          total += cn
          k += 1
        }
        n = total; emitted = 0
        runIds = new Array[Long](total)
        runTfs = new Array[Int](total)
        runDls = new Array[Int](total)
        var posTotal = 0
        var c = 0
        while (c < k) { if (cPos(c) != null) posTotal += cPos(c).length; c += 1 }
        if (posTotal > 0) {
          runPos = new Array[Byte](posTotal); runPosOff = new Array[Int](total + 1)
        } else { runPos = null; runPosOff = null }
        var w = 0
        var posW = 0
        if (k == 1) {
          // chunks are internally id-sorted — single-chunk runs copy through
          System.arraycopy(cIds(0), 0, runIds, 0, total)
          System.arraycopy(cTfs(0), 0, runTfs, 0, total)
          System.arraycopy(cDls(0), 0, runDls, 0, total)
          if (runPos != null) {
            System.arraycopy(cPos(0), 0, runPos, 0, posTotal)
            System.arraycopy(cOff(0), 0, runPosOff, 0, total + 1)
          }
        } else {
          // k-way heap merge keyed (id, chunk order) — identical order to
          // the old concatenate-then-stable-sortBy(id)
          val cur = new Array[Int](k)
          val heap = new Array[Int](k)
          var hs = 0
          @inline def lessC(a: Int, b: Int): Boolean = {
            val ia = cIds(a)(cur(a)); val ib = cIds(b)(cur(b))
            ia < ib || (ia == ib && a < b)
          }
          def siftUp(i0: Int): Unit = {
            var i = i0
            while (i > 0 && lessC(heap(i), heap((i - 1) / 2))) {
              val t = heap(i); heap(i) = heap((i - 1) / 2); heap((i - 1) / 2) = t
              i = (i - 1) / 2
            }
          }
          def siftDown(): Unit = {
            var i = 0
            var done = false
            while (!done) {
              val l = 2 * i + 1; val r = l + 1
              var m = i
              if (l < hs && lessC(heap(l), heap(m))) m = l
              if (r < hs && lessC(heap(r), heap(m))) m = r
              if (m == i) done = true
              else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
            }
          }
          var c2 = 0
          while (c2 < k) {
            if (cIds(c2).length > 0) { heap(hs) = c2; hs += 1; siftUp(hs - 1) }
            c2 += 1
          }
          while (hs > 0) {
            val c3 = heap(0)
            val j = cur(c3)
            runIds(w) = cIds(c3)(j)
            runTfs(w) = cTfs(c3)(j)
            runDls(w) = cDls(c3)(j)
            if (runPos != null) {
              if (cOff(c3) != null) {
                val s = cOff(c3)(j); val e = cOff(c3)(j + 1)
                System.arraycopy(cPos(c3), s, runPos, posW, e - s)
                posW += e - s
              }
              runPosOff(w + 1) = posW
            }
            cur(c3) = j + 1
            if (cur(c3) == cIds(c3).length) { hs -= 1; heap(0) = heap(hs) }
            siftDown()
            w += 1
          }
        }
      }

      def hasNext: Boolean = (runIds != null && emitted < n) || in.hasNext

      def next(): PostingRow = {
        if (runIds == null || emitted >= n) loadRun()
        val start = emitted
        val end = math.min(n, start + blockSize)
        var tfSum = 0L
        var maxTf = 0
        var minDl = Int.MaxValue
        var maxImpact = 0.0
        var j = start
        while (j < end) {
          val tf = runTfs(j); val dl = runDls(j)
          tfSum += tf
          if (tf > maxTf) maxTf = tf
          if (dl < minDl) minDl = dl
          val imp = impact(tf, dl, avgDl)
          if (imp > maxImpact) maxImpact = imp
          j += 1
        }
        val ids = java.util.Arrays.copyOfRange(runIds, start, end)
        val poss =
          if (runPos == null || runPosOff(end) == runPosOff(start)) EmptyBytes
          else java.util.Arrays.copyOfRange(runPos, runPosOff(start), runPosOff(end))
        val row = PostingRow(
          grp, slice, term, blockId,
          ids(0), ids(ids.length - 1), ids.length,
          Codec.encodeGapsFromBase(ids),
          Codec.encodeIntsAuto(java.util.Arrays.copyOfRange(runTfs, start, end)),
          Codec.encodeIntsAuto(java.util.Arrays.copyOfRange(runDls, start, end)),
          poss,
          tfSum,
          maxImpact,
          maxTf,
          if (minDl == Int.MaxValue) 0 else minDl
        )
        blockId += 1
        emitted = end
        row
      }
    }
  }

  /** Encode one sorted partition iterator into posting blocks.
    * Input rows sorted by (term, slice, doc_id); consecutive runs of the
    * same (term, slice) become one posting sub-list, chunked into blocks.
    * Per-posting position chunks (nullable) concatenate into the block's
    * `poss` stream without re-encoding.
    */
  def blockify(
      it: Iterator[(String, Int, Long, Int, Int, Array[Byte])],
      grp: Int,
      blockSize: Int,
      avgDl: Double
  ): Iterator[PostingRow] = {
    val in = it.buffered
    new Iterator[PostingRow] {
      private var curTerm: String = _
      private var curSlice: Int = -1
      private var blockId: Int = 0
      def hasNext: Boolean = in.hasNext
      def next(): PostingRow = {
        val (term, slice, _, _, _, _) = in.head
        if (term != curTerm || slice != curSlice) {
          curTerm = term; curSlice = slice; blockId = 0
        }
        val ids = new ArrayBuffer[Long](blockSize)
        val tfs = new ArrayBuffer[Int](blockSize)
        val dls = new ArrayBuffer[Int](blockSize)
        val posOut = new ArrayBuffer[Byte]()
        var maxImpact = 0.0
        var tfSum = 0L
        var maxTf = 0
        var minDl = Int.MaxValue
        while (
          in.hasNext && ids.length < blockSize && {
            val h = in.head; h._1 == term && h._2 == slice
          }
        ) {
          val (_, _, docId, tf, dl, pos) = in.next()
          ids += docId; tfs += tf; dls += dl
          tfSum += tf
          if (tf > maxTf) maxTf = tf
          if (dl < minDl) minDl = dl
          if (pos != null) posOut ++= pos
          val imp = impact(tf, dl, avgDl)
          if (imp > maxImpact) maxImpact = imp
        }
        val row = PostingRow(
          grp, slice, term, blockId,
          ids.head, ids.last, ids.length,
          Codec.encodeGapsFromBase(ids.toArray),
          Codec.encodeIntsAuto(tfs.toArray),
          Codec.encodeIntsAuto(dls.toArray),
          if (posOut.isEmpty) EmptyBytes else posOut.toArray,
          tfSum,
          maxImpact,
          maxTf,
          if (minDl == Int.MaxValue) 0 else minDl
        )
        blockId += 1
        row
      }
    }
  }

  // ---- table schemas + readers ---------------------------------------
  // Index tables open with DECLARED schemas (≙ Delta Lake keeping the
  // table schema in its log): a bare spark.read.parquet runs a one-task
  // job to read a footer and infer a schema the engine already knows —
  // on small requests that job was up to 2 of every 5 per query. The
  // schemas derive from the row types in model.scala, in the writers'
  // column order with the `grp` partition column last, all nullable as
  // parquet inference reports them (IndexSchemaSpec pins every writer to them).

  private def nullable(s: StructType): StructType =
    StructType(s.map(_.copy(nullable = true)))

  /** `terms`: the dictionary, one [[TermStat]] row per term. */
  val TermsSchema: StructType = nullable(Encoders.product[TermStat].schema)

  /** `postings`: [[PostingRow]] with `grp` moved last (it is the
    * directory partition column, so it is not stored in the files).
    */
  val PostingsSchema: StructType = {
    val s = Encoders.product[PostingRow].schema
    nullable(StructType(s.filterNot(_.name == "grp") :+ s("grp")))
  }

  /** Core `docs` columns every writer keeps: [[Doc]] + `slice` + `grp`.
    * A from-scratch build also stores `text` (before `slice`); merged and
    * purged indexes do not, so `text` is not part of the declared core.
    */
  val DocsSchema: StructType = nullable(StructType(Encoders.product[Doc].schema.fields ++
    Seq(StructField("slice", IntegerType), StructField("grp", IntegerType))))

  private val StagedDocsSchema: StructType = {
    val (core, routing) = DocsSchema.fields.splitAt(DocsSchema.fieldIndex("slice"))
    StructType((core :+ StructField("text", StringType)) ++ routing)
  }

  /** Opens table `name` of `indexDir` with `declared` when the index
    * carries the current format stamp. An older index keeps the
    * schema-inferring read: it may lack a declared column, and a declared
    * read would turn a missing column into nulls instead of failing.
    */
  private def openTable(spark: SparkSession, indexDir: String, name: String,
                        declared: StructType): DataFrame = {
    val path = s"$indexDir/$name"
    val reader = spark.read.option("basePath", path)
    if (readFormatVersion(indexDir) >= FormatVersion) reader.schema(declared).parquet(path)
    else reader.parquet(path)
  }

  /** The `docs` table. `withText` reads infer the on-disk schema: only a
    * from-scratch build stores `text`, and a merged or purged index must
    * fail such a read loudly rather than return null texts.
    */
  def readDocsTable(spark: SparkSession, indexDir: String, withText: Boolean = false): DataFrame =
    if (withText) spark.read.option("basePath", s"$indexDir/docs").parquet(s"$indexDir/docs")
    else openTable(spark, indexDir, "docs", DocsSchema)

  /** `use` over the `docs` table, for caller-supplied expressions (doc
    * filters, attribute SQL) that may name any docs column. When `use`
    * does not resolve against the declared core columns (e.g. it reads
    * `text`), it runs over the inferred schema, so such a read succeeds
    * or fails exactly as the on-disk table allows. Analysis is eager, so
    * no job runs twice.
    */
  def withDocsTable(spark: SparkSession, indexDir: String)(use: DataFrame => DataFrame): DataFrame =
    try use(readDocsTable(spark, indexDir))
    catch { case _: AnalysisException => use(readDocsTable(spark, indexDir, withText = true)) }

  def readDocs(spark: SparkSession, indexDir: String): Dataset[Doc] = {
    import spark.implicits._
    // built indexes carry (text, grp) in the docs table — column pruning
    // means this select never reads the text column off disk
    readDocsTable(spark, indexDir)
      .select("doc_id", "url", "warc_ts", "lang", "doc_len")
      .as[Doc]
  }
  /** Corpus stats. The `stats.json` sidecar (written at build/merge/purge
    * time) is preferred: it answers from one driver-side file read, where
    * the parquet head() costs a Spark job — a fixed tax every search-path
    * query used to pay (r6). The parquet stays the queryable table
    * (q_corpus_stats reads it) and the fallback for pre-sidecar indexes.
    */
  def readStats(spark: SparkSession, indexDir: String): CorpusStats =
    graft.sources.Fsx.readUtf8Opt(s"$indexDir/stats.json") match {
      case Some(j) =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(j)
        CorpusStats(node.get("n_docs").asLong, node.get("avg_dl").asDouble,
          node.get("total_tokens").asLong)
      case None =>
        import spark.implicits._
        spark.read.parquet(s"$indexDir/stats").as[CorpusStats].head()
    }

  /** Write the stats sidecar next to the stats parquet (same values). */
  def writeStatsJson(indexDir: String, st: CorpusStats): Unit =
    graft.sources.Fsx.writeUtf8(s"$indexDir/stats.json",
      s"""{"n_docs":${st.n_docs},"avg_dl":${st.avg_dl},"total_tokens":${st.total_tokens}}""")
  def readTerms(spark: SparkSession, indexDir: String): Dataset[TermStat] = {
    import spark.implicits._
    openTable(spark, indexDir, "terms", TermsSchema).as[TermStat]
  }
  def readPostings(spark: SparkSession, indexDir: String): DataFrame =
    openTable(spark, indexDir, "postings", PostingsSchema)
  def readMetrics(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.option("basePath", s"$indexDir/build_metrics")
      .parquet(s"$indexDir/build_metrics")
}
