package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic dense ID assignment at scale (≙ the reference's global
  * monotonic Id, `EventLogReader.cs:105-106`, SURVEY.md §2.2 P14).
  *
  * NOT `monotonically_increasing_id` (not dense, layout-dependent) and
  * NOT a single global `row_number()` window (one-partition bottleneck —
  * would not survive 10^12 rows). Instead the classic two-pass scheme:
  *
  *   1. range-repartition + sort within partitions by the order key
  *      (one shuffle, fully parallel);
  *   2. count rows per partition (cheap job over the same shuffled data);
  *   3. broadcast the per-partition offsets and add `offset + local_rank`.
  *
  * IDs depend only on the order key (url), never on partition layout, so
  * the same corpus yields the same IDs at local[8] and local[32] —
  * required for the rank-identity + scaling-efficiency protocol
  * (BASELINE.md): throughput runs at different parallelism must not
  * change docIDs.
  */
object DenseId {

  /** Add dense 0-based `idCol` ordered by `orderCol` (must be unique). */
  def assign(df: DataFrame, orderCol: String, idCol: String, numPartitions: Int): DataFrame =
    assignWithCount(df, orderCol, idCol, numPartitions)._1

  /** Like [[assign]], also returning the total row count (already known
    * from the offsets pass — saves callers a count job).
    */
  def assignWithCount(
      df: DataFrame, orderCol: String, idCol: String, numPartitions: Int
  ): (DataFrame, Long) = {
    val spark = df.sparkSession
    val n = df.schema.size
    val sortedRdd = df
      .repartitionByRange(numPartitions, col(orderCol))
      .sortWithinPartitions(orderCol)
      .rdd // materialize ONE lineage so the count job's shuffle files are
           // reused by the zip job (Spark skips the map stage on re-run)
    // pass 1: per-partition counts
    val counts = sortedRdd
      .mapPartitionsWithIndex { case (pid, it) => Iterator((pid, it.size.toLong)) }
      .collect()
      .sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    // pass 2: zip local rank + broadcast offset. Rows rebuilt via one
    // preallocated array (the old `row.toSeq :+ id` built two Seqs per
    // row — measurable at 10^6-rows-per-second rates)
    val schema = df.schema.add(idCol, org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = sortedRdd.mapPartitionsWithIndex { case (pid, it) =>
      val base = bOffsets.value(pid)
      var i = 0L
      it.map { row =>
        val arr = new Array[Any](n + 1)
        var j = 0
        while (j < n) { arr(j) = row.get(j); j += 1 }
        arr(n) = base + i
        i += 1
        org.apache.spark.sql.Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
      }
    }
    (spark.createDataFrame(rdd, schema), offsets.last)
  }

  /** TYPED fast path for the build pipeline's page staging: same id
    * semantics as [[assign]] (dense 0-based, ordered by url in UTF-8
    * binary order, parallelism-independent), restructured so the heavy
    * rows cross the wire once and are never Spark-sorted (r6; guide §2):
    *
    *   1. range BOUNDS from a url-only pass over `urlsForBounds` —
    *      column-pruned at the parquet scan, so the html/text bytes are
    *      not read (the old `repartitionByRange` sampled the FULL
    *      extracted dataset: one extra pass over every page);
    *   2. per-range-id COUNTS from a second url-only pass (same cheap
    *      scan) — the old shape counted by fetching the whole shuffled
    *      corpus a first time;
    *   3. one hash exchange keyed by the precomputed range id — no
    *      sampling job, no Spark sort on either side, and its map and
    *      reduce sides each run exactly once, in the consumer's job;
    *   4. zip pass: per-task in-memory sort by (range id, utf8(url)) +
    *      dense id assignment from the broadcast offsets.
    *
    * IDs depend only on the global url order, never on where the range
    * bounds fall, so any deterministic bounds reproduce the exact ids of
    * the old implementation (pinned by an IndexSearchSpec test).
    * Returns (doc_id, url, warc_ts, lang, text) with the count.
    */
  def assignPages(
      ds: org.apache.spark.sql.Dataset[(String, java.sql.Timestamp, String, String)],
      numPartitions: Int,
      urlsForBounds: org.apache.spark.sql.Dataset[String]
  ): (org.apache.spark.sql.Dataset[(Long, String, java.sql.Timestamp, String, String)], Long) = {
    val spark = ds.sparkSession
    import spark.implicits._
    val verbose = sys.env.contains("GRAFT_BUILD_VERBOSE")
    var t0 = System.nanoTime()
    @inline def lap(label: String): Unit = if (verbose) {
      System.err.println(f"[dense-id] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      t0 = System.nanoTime()
    }
    val bounds = rangeBounds(urlsForBounds, numPartitions)
    lap("bounds")
    val bBounds = spark.sparkContext.broadcast(bounds)
    // pass 1 (url-only, column-pruned like the bounds pass): rows per
    // range id, counted at the SOURCE — the heavy shuffled rows are never
    // fetched just to be counted, so the exchange's map and reduce sides
    // each run exactly once (in the consumer's job). Driver collect: one
    // (range id, count) pair per range id an input partition holds, so at
    // most numPartitions pairs per input partition.
    val pidCounts = urlsForBounds.rdd
      .mapPartitions { it =>
        val b = bBounds.value
        val m = new java.util.HashMap[Integer, Long]()
        it.foreach(u => m.merge(rangeIdOf(b, u), 1L, (a, b2) => a + b2))
        scala.jdk.CollectionConverters.IteratorHasAsScala(m.entrySet().iterator()).asScala
          .map(e => (e.getKey.intValue, e.getValue.longValue))
      }
      .collect()
    lap("pid-counts")
    val counts = new Array[Long](math.max(1, numPartitions))
    pidCounts.foreach { case (p, c) => counts(p) += c }
    val offsets = counts.scanLeft(0L)(_ + _)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val pidOfUrl = udf((u: String) => rangeIdOf(bBounds.value, u))
    val shuffled = ds
      .toDF("_1", "_2", "_3", "_4")
      .withColumn("_pid", pidOfUrl(col("_1")))
      .repartition(math.max(1, numPartitions), col("_pid"))
      .as[(String, java.sql.Timestamp, String, String, Int)]
    // pass 2: in-task sort by (range id, utf8(url)) — global concatenation
    // in range-id order is exactly the url-sorted corpus. (Several range
    // ids may hash-share a partition; all rows of one range id land
    // together, and the broadcast offsets key on the range id.)
    val rdd = shuffled.rdd.mapPartitions { it =>
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        java.util.Arrays.sort(rows,
          new java.util.Comparator[(String, java.sql.Timestamp, String, String, Int)] {
            def compare(
                a: (String, java.sql.Timestamp, String, String, Int),
                b: (String, java.sql.Timestamp, String, String, Int)
            ): Int = {
              if (a._5 != b._5) return Integer.compare(a._5, b._5)
              compareUtf8Strings(a._1, b._1)
            }
          })
        val offs = bOffsets.value
        var curPid = -1
        var nextId = 0L
        rows.iterator.map { case (url, ts, lang, text, pid) =>
          if (pid != curPid) { curPid = pid; nextId = offs(pid) }
          val r = (nextId, url, ts, lang, text)
          nextId += 1
          r
        }
      }
    }
    val out = spark.createDataset(rdd)
    lap("plan-zip")
    (out, offsets.last)
  }

  /** Code-point comparison of two strings — equal to UTF-8 byte order
    * (what Spark's UTF8String sort uses) without materializing byte
    * arrays; differs from String.compareTo only beyond the BMP.
    */
  @inline private[graft] def compareUtf8Strings(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (ca != cb) {
        // surrogate-aware: compare full code points where they diverge
        val cpa = a.codePointAt(i)
        val cpb = b.codePointAt(i)
        return Integer.compare(cpa, cpb)
      }
      i += 1
    }
    a.length - b.length
  }

  /** Unsigned byte-wise comparison — the UTF8String binary order Spark's
    * string sort uses, which for UTF-8 equals code-point order.
    */
  @inline private def compareUtf8(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Range id of `u` given sorted utf8 bounds: the count of bounds ≤ u. */
  private[graft] def rangeIdOf(bounds: Array[Array[Byte]], u: String): Int = {
    val key = u.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (compareUtf8(bounds(mid), key) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Deterministic range bounds from a url-only dataset: per-partition
    * adaptive-stride downsampling (order-based, no RNG — identical at any
    * core count for a fixed input layout), weighted quantiles on the
    * driver. Bounds only steer partition BALANCE; ids never depend on
    * them. Driver collect: fewer than 256 sampled urls per input
    * partition (a partition's sample halves whenever it reaches 256).
    */
  private[graft] def rangeBounds(
      urls: org.apache.spark.sql.Dataset[String], numPartitions: Int
  ): Array[Array[Byte]] = {
    if (numPartitions <= 1) return Array.empty
    val sampled = urls.rdd
      .mapPartitions { it =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        var stride = 1L
        var i = 0L
        it.foreach { u =>
          if (i % stride == 0L) {
            buf += u
            if (buf.length >= 256) {
              var j = 0
              var w = 0
              while (j < buf.length) { if (j % 2 == 0) { buf(w) = buf(j); w += 1 }; j += 1 }
              buf.dropRightInPlace(buf.length - w)
              stride *= 2
            }
          }
          i += 1L
        }
        buf.iterator.map(u => (u, stride))
      }
      .collect()
    if (sampled.isEmpty) return Array.empty
    val keyed = sampled
      .map { case (u, w) => (u.getBytes(java.nio.charset.StandardCharsets.UTF_8), w) }
      .sortWith((a, b) => compareUtf8(a._1, b._1) < 0)
    val totalW = keyed.map(_._2).sum.toDouble
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var cum = 0.0
    var next = 1
    keyed.foreach { case (bytes, w) =>
      cum += w
      if (next < numPartitions && cum >= next * totalW / numPartitions) {
        if (out.isEmpty || compareUtf8(out.last, bytes) < 0) out += bytes
        next += 1
      }
    }
    out.toArray
  }

  /** Small-data variant (≤ a few million rows, e.g. test fixtures and the
    * driver's DuckDB-oracle tables): a plain global window — simple,
    * SQL-oracle-friendly, but single-partition; use [[assign]] at scale.
    */
  def assignSmall(df: DataFrame, orderCol: Column, idCol: String): DataFrame =
    df.withColumn(idCol, row_number().over(Window.orderBy(orderCol)).cast("long") - 1)
}
