package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.index.{IndexBuilder, SegmentMerge, Tombstones}
import graft.index.IndexBuilder.BuildConfig
import graft.sources.{HtmlText, PagesGen}

/** Merge-cost probe: build two segments of n docs each, then time the
  * byte-identical rebuild merge vs the decode-free fastMerge; then delete
  * every tenth doc of the rebuild merge by url and time its purge. Prints
  * the byte size of the rebuild and purge output dirs.
  * `sbt "runMain graft.MergeProbe <cores> <docsPerSegment>"`.
  */
object MergeProbe {
  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 32
    val n = if (args.length > 1) args(1).toLong else 200000L
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def seg(prefix: String, from: Long, until: Long) =
      spark.range(from, until, 1, 32).map { i =>
        val text = PagesGen.textFor(i)
        val url = f"$prefix/$i%010d"
        Page(url, new java.sql.Timestamp(1609459200000L + i * 1000L), HtmlText.wrap(url, text), text, "en")
      }
    val base = Files.createTempDirectory("graft-mergeprobe").toString
    val cfg = BuildConfig(nPartitions = cores, nGroups = 1, nSlices = 16, blockSize = 128)
    IndexBuilder.build(spark, seg("a", 0, n), s"$base/a", cfg)
    IndexBuilder.build(spark, seg("b", n, 2 * n), s"$base/b", cfg)

    val t0 = System.nanoTime()
    SegmentMerge.merge(spark, s"$base/a", s"$base/b", s"$base/rebuild", cfg)
    val rebuildSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    SegmentMerge.fastMerge(spark, Seq(s"$base/a", s"$base/b"), s"$base/fast")
    val fastSec = (System.nanoTime() - t1) / 1e9

    // sanity: identical answers on a probe query
    val q = Seq("w1", "w2")
    val a = graft.query.Search.topK(spark, s"$base/rebuild", q, "or", 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val b = graft.query.Search.topK(spark, s"$base/fast", q, "or", 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    require(a == b, s"fastMerge answers diverge: $a vs $b")

    def bytes(dir: String) = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(dir))
    val rebuildBytes = bytes(s"$base/rebuild")
    val urls = spark.range(0, 2 * n, 10).map(i => if (i < n) f"a/$i%010d" else f"b/$i%010d")
    Tombstones.deleteByUrls(spark, s"$base/rebuild", urls)
    val t2 = System.nanoTime()
    Tombstones.purge(spark, s"$base/rebuild", s"$base/purged")
    val purgeSec = (System.nanoTime() - t2) / 1e9

    println(f"""MERGEPROBE{"docs":${2 * n},"rebuild_sec":$rebuildSec%.2f,"fast_sec":$fastSec%.2f,"speedup":${rebuildSec / fastSec}%.1f,""" +
      f""""deleted":${Tombstones.count(s"$base/rebuild")},"purge_sec":$purgeSec%.2f,"rebuild_bytes":$rebuildBytes,"purge_bytes":${bytes(s"$base/purged")}}""")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    spark.stop()
  }
}
