package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFeatures

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths:
  *   - [[bruteForceTopK]] — exact cosine top-k; the correctness baseline.
  *     Queries are BROADCAST (they're small); the corpus is never
  *     shuffled; per-partition partial top-k then a tiny global merge —
  *     the same pattern that scales to 10^12 vectors on a cluster.
  *   - [[ivfTopK]] — IVF-style: k-means-lite centroids (deterministic
  *     seeded corpus sample), vectors assigned to nearest centroid
  *     (inverted lists), queries probe the `nProbe` nearest lists. The
  *     scan touches nProbe/nLists of the corpus.
  */
object Ann {

  @inline def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  @inline def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Random-hyperplane sign sketch (deterministic planes from seed). */
  def hyperplaneSketch(v: Array[Float], planes: Int, seed: Long = 42L): Long = {
    var sketch = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var i = 0
      while (i < v.length) {
        // deterministic pseudo-gaussian-ish plane component in [-1, 1)
        val h = TextFeatures.mix64(seed ^ (p.toLong << 32) ^ i.toLong)
        s += v(i).toDouble * ((h >> 11).toDouble / (1L << 52).toDouble - 1.0)
        i += 1
      }
      if (s >= 0) sketch |= (1L << p)
      p += 1
    }
    sketch
  }

  /** Exact cosine top-k per query. `queries`: (qid, vec); `corpus`:
    * (id, vec). Result: (qid, id, cosine, rank), rank 1..k, ties broken
    * by ascending id.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qidCol: String,
      qvecCol: String,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qs: Array[(Long, Array[Float])] = queries
      .select(col(qidCol).cast("long"), col(qvecCol))
      .as[(Long, Array[Float])]
      .collect() // queries are few by construction; corpus stays distributed
    val bq = spark.sparkContext.broadcast(qs.map { case (qid, v) => (qid, v, norm(v)) })

    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bq.value
        // one bounded heap per query per partition
        val heaps = queries.map(_ => new BoundedTopK(k))
        it.foreach { case (id, v) =>
          val nv = norm(v)
          var qi = 0
          while (qi < queries.length) {
            val (_, qv, nq) = queries(qi)
            val c = if (nv == 0.0 || nq == 0.0) 0.0 else dot(qv, v) / (nq * nv)
            heaps(qi).offer(id, c)
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.result.map { case (id, c) => (queries(qi)._1, id, c) }
        }
      }
      .toDF("qid", "id", "cosine")

    // global merge: nPartitions × nQueries × k rows — tiny
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"id".asc)
    partial
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"qid", $"id", $"cosine", $"rank".cast("long").as("rank"))
  }

  /** (score desc, id asc) bounded top-k accumulator. */
  private[operators] final class BoundedTopK(k: Int) {
    private val ord =
      Ordering.by[(Long, Double), (Double, Long)] { case (id, s) => (-s, id) }
    private val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)
    def offer(id: Long, s: Double): Unit = {
      if (heap.size < k) heap.enqueue((id, s))
      else {
        val (wid, ws) = heap.head
        if (s > ws || (s == ws && id < wid)) { heap.dequeue(); heap.enqueue((id, s)) }
      }
    }
    def result: Array[(Long, Double)] = heap.toArray.sortBy { case (id, s) => (-s, id) }
  }

  /** Train IVF centroids: deterministic SPREAD seeding (vectors at id
    * quantiles — the first-nLists-ids seed clusters badly when nearby ids
    * embed nearby) + `lloydPasses` distributed refinement passes. Each
    * pass is one map-side partial-sum job (per-partition centroid sums →
    * tiny merge) — no per-row shuffle.
    */
  private def trainCentroids(
      vecs: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      idCol: String,
      nLists: Int,
      lloydPasses: Int
  ): Array[Array[Float]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // deterministic pseudo-random seeds: the nLists vectors with the
    // smallest xxhash64(id) — a decorrelated sample (nearby ids often
    // embed nearby; hashing breaks that), computed as a distributed
    // top-k (TakeOrdered), never a global sort
    val seedCentroids = vecs.toDF(idCol, "vec")
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nLists)
      .select(col("vec")).as[Array[Float]].collect() // ≤ nLists vectors (the limit)
    require(seedCentroids.nonEmpty, "empty corpus")

    var centroids = seedCentroids
    var pass = 0
    while (pass < lloydPasses) {
      val bSeed = spark.sparkContext.broadcast(centroids)
      val refined = vecs
        .mapPartitions { it =>
          val cs = bSeed.value
          val sums = Array.fill(cs.length)(new Array[Double](cs.headOption.map(_.length).getOrElse(0)))
          val counts = new Array[Long](cs.length)
          it.foreach { case (_, v) =>
            val c = nearest(cs, v)
            counts(c) += 1
            var i = 0
            while (i < v.length) { sums(c)(i) += v(i); i += 1 }
          }
          Iterator.tabulate(cs.length)(c => (c, sums(c), counts(c)))
        }
        .groupByKey(_._1)
        .mapGroups { (c, it) =>
          val all = it.toArray
          val dim = all.head._2.length
          val sum = new Array[Double](dim)
          var cnt = 0L
          all.foreach { case (_, s, cn) =>
            cnt += cn
            var i = 0
            while (i < dim) { sum(i) += s(i); i += 1 }
          }
          val out = new Array[Float](dim)
          if (cnt > 0) { var i = 0; while (i < dim) { out(i) = (sum(i) / cnt).toFloat; i += 1 } }
          (c, out)
        }
        .collect() // ≤ nLists rows, one mean per centroid
        .sortBy(_._1)
        .map { case (c, v) => if (v.forall(_ == 0f)) centroids(c) else v }
      centroids = refined
      pass += 1
    }
    centroids
  }

  /** Build-ONCE persisted IVF index: centroids parquet + the corpus
    * assigned to inverted lists, written `partitionBy("list")` so a probe
    * scan prunes to nProbe/nLists of the data at the parquet-partition
    * level (PartitionFilters — asserted in PlanSpec). This is the
    * train-offline/serve-many shape IVF needs at 10^9+ vectors; the old
    * per-call re-train + full-scan-with-row-filter was a scale
    * anti-pattern (every query touched every row).
    */
  /** Sizing guidance: nLists ≈ √N (classic IVF heuristic — balances
    * centroid-scan cost against list-scan cost); probe recall grows with
    * nProbe/nLists. See README §ANN.
    */
  def ivfBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      nLists: Int = 16,
      lloydPasses: Int = 2
  ): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    val centroids = trainCentroids(vecs, idCol, nLists, lloydPasses)
    val bCent = spark.sparkContext.broadcast(centroids)
    vecs
      .map { case (id, v) => (nearest(bCent.value, v), id, v) }
      .toDF("list", "id", "vec")
      .write.mode("overwrite").partitionBy("list").parquet(s"$indexDir/lists")
    centroids.zipWithIndex.map { case (v, c) => (c, v) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    graft.sources.Fsx.writeUtf8(
      s"$indexDir/meta.json",
      s"""{"format":$IvfFormatVersion,"n_lists":$nLists,"lloyd_passes":$lloydPasses}""")
  }

  /** Bump when centroid training / layout changes — cached indexes from an
    * older build must be rebuilt, not silently probed.
    */
  val IvfFormatVersion = 2

  def ivfFormatVersion(indexDir: String): Int =
    graft.sources.Fsx.readUtf8Opt(s"$indexDir/meta.json") match {
      case None => 0
      case Some(s) =>
        """"format"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(0)
    }

  /** Probe a persisted IVF index: nProbe nearest lists per query, scan
    * restricted by partition pruning to the union of probed lists,
    * per-partition bounded heaps, tiny global merge.
    */
  def ivfSearch(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nProbe: Int = 4
  ): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2) // ≤ nLists rows
    val qs = queries
      .select(col(qidCol).cast("long"), col(qvecCol))
      .as[(Long, Array[Float])]
      .collect() // queries are few by construction
    val probes: Array[(Long, Array[Float], Array[Int])] = qs.map { case (qid, qv) =>
      (qid, qv, nearestN(centroids, qv, nProbe))
    }
    val bProbes = spark.sparkContext.broadcast(probes)
    val wantedLists = probes.flatMap(_._3).distinct.toSeq

    val partial = spark.read
      .option("basePath", s"$indexDir/lists")
      .parquet(s"$indexDir/lists")
      .where(col("list").isin(wantedLists: _*)) // partition pruning
      .select(col("list").cast("int"), col("id"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        val ps = bProbes.value
        val heaps = ps.map(_ => new BoundedTopK(k))
        it.foreach { case (list, id, v) =>
          var qi = 0
          while (qi < ps.length) {
            val (_, qv, lists) = ps(qi)
            if (lists.contains(list)) heaps(qi).offer(id, cosine(qv, v))
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.result.map { case (id, c) => (ps(qi)._1, id, c) }
        }
      }
      .toDF("qid", "id", "cosine")

    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"id".asc)
    partial
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"qid", $"id", $"cosine", $"rank".cast("long").as("rank"))
  }

  /** QUANTIZED IVF build — the FAISS `IVF,SQ8` / Lucene-ES `int8_hnsw`
    * composition: inverted lists store int8 CODES (4× smaller than
    * float32 — at 10^12 vectors the difference between lists fitting in
    * cluster page cache or not), trained scalar-quantization params live
    * next to the centroids. Same `partitionBy(list)` pruning layout as
    * [[ivfBuild]]; one extra tiny parquet holds (lo, hi).
    */
  def ivfBuildQuantized(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      nLists: Int = 16,
      lloydPasses: Int = 2
  ): Quantize.Params = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    val p = Quantize.fit(corpus, vecCol)
    val centroids = trainCentroids(vecs, idCol, nLists, lloydPasses)
    val bCent = spark.sparkContext.broadcast(centroids)
    val bP = spark.sparkContext.broadcast(p)
    vecs
      .map { case (id, v) => (nearest(bCent.value, v), id, Quantize.encodeVec(v, bP.value)) }
      .toDF("list", "id", "codes")
      .write.mode("overwrite").partitionBy("list").parquet(s"$indexDir/lists")
    centroids.zipWithIndex.map { case (v, c) => (c, v) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    Seq((p.lo, p.hi)).toDF("lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/quant")
    graft.sources.Fsx.writeUtf8(
      s"$indexDir/meta.json",
      s"""{"format":$IvfFormatVersion,"n_lists":$nLists,"lloyd_passes":$lloydPasses,"quantized":true}""")
    p
  }

  /** Probe a QUANTIZED IVF index with exact re-ranking: the pruned list
    * scan decodes codes per row (pure map over the 4×-smaller data) and
    * keeps a WIDENED k·`rerankFactor` heap per query in the approximate
    * space; candidates join back — bare ids only — to their EXACT float
    * vectors for the true top-k by exact cosine. This is the
    * candidates-from-cheap-index / rerank-from-exact-store split every
    * production ANN deployment runs; `fullVecs` is that exact store
    * (id, vec).
    */
  def ivfSearchQuantized(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      fullVecs: DataFrame,
      qidCol: String,
      qvecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      rerankFactor: Int = 4
  ): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2) // ≤ nLists rows
    val (lo, hi) = spark.read.parquet(s"$indexDir/quant")
      .as[(Array[Float], Array[Float])].head()
    val params = Quantize.Params(lo, hi)
    val qs = queries
      .select(col(qidCol).cast("long"), col(qvecCol))
      .as[(Long, Array[Float])]
      .collect() // queries are few by construction
    val probes: Array[(Long, Array[Float], Array[Int])] = qs.map { case (qid, qv) =>
      (qid, qv, nearestN(centroids, qv, nProbe))
    }
    val bProbes = spark.sparkContext.broadcast(probes)
    val bP = spark.sparkContext.broadcast(params)
    val wantedLists = probes.flatMap(_._3).distinct.toSeq
    val kk = k * rerankFactor

    val cand = spark.read
      .option("basePath", s"$indexDir/lists")
      .parquet(s"$indexDir/lists")
      .where(col("list").isin(wantedLists: _*)) // partition pruning
      .select(col("list").cast("int"), col("id"), col("codes"))
      .as[(Int, Long, Array[Byte])]
      .mapPartitions { it =>
        val ps = bProbes.value
        val pp = bP.value
        val heaps = ps.map(_ => new BoundedTopK(kk))
        it.foreach { case (list, id, codes) =>
          val v = Quantize.decodeVec(codes, pp)
          var qi = 0
          while (qi < ps.length) {
            val (_, qv, lists) = ps(qi)
            if (lists.contains(list)) heaps(qi).offer(id, cosine(qv, v))
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.result.map { case (id, _) => (ps(qi)._1, id) }
        }
      }
      .toDF("qid", "cid")
      // global widened cut: nPartitions × nQueries × kk approximate rows
      // were already heap-bounded; candidates carry BARE ids into rerank
      .distinct()

    val exact = cand
      .join(fullVecs.select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec")), "cid")
      .join(queries.select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv")), "qid")
      .select($"qid", $"cid", $"qv", $"cvec")
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (qid, id, qv, cv) => (qid, id, cosine(qv, cv)) }
      .toDF("qid", "id", "cosine")
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"id".asc)
    exact
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"qid", $"id", $"cosine", $"rank".cast("long").as("rank"))
  }

  /** Convenience one-shot: build (or reuse) the persisted index in
    * `indexDir`, then probe it. Kept for tests/small jobs; production use
    * is ivfBuild once + ivfSearch many.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qidCol: String,
      qvecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      indexDir: String = null
  ): DataFrame = {
    val spark = queries.sparkSession
    val dir =
      if (indexDir != null) indexDir
      else java.nio.file.Files.createTempDirectory("graft-ivf").toString
    if (!graft.sources.Fsx.exists(s"$dir/centroids"))
      ivfBuild(corpus, idCol, vecCol, dir, nLists)
    ivfSearch(spark, dir, queries, qidCol, qvecCol, k, nProbe)
  }

  private def nearest(cs: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = sqDist(cs(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def nearestN(cs: Array[Array[Float]], v: Array[Float], n: Int): Array[Int] =
    cs.indices.sortBy(c => sqDist(cs(c), v)).take(n).toArray

  @inline private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }
}
