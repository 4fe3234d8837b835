package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.sources.{HtmlText, PagesGen}

/** Flush-budget probe: times the driver-side flush against the
  * distributed build on inputs near the flush caps, with the build stage
  * seconds of each run, and reports the peak live heap of a second,
  * untimed run of each (sampled by a full GC every 50 ms, above the idle
  * baseline; local mode: driver and executors share the heap). Two
  * shapes: generated pages (text-heavy, about 530 chars a page) and short
  * 16-word pages (row-heavy), as row counts. Each size runs build and
  * flush alternately, `reps` times each. Spark's "task of very large
  * size" warnings on stderr give the flush writes' task sizes.
  * `sbt "runMain graft.FlushProbe <cores> <reps> <text rows,...> <short rows,...>"`.
  */
object FlushProbe {
  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 4
    val reps = if (args.length > 1) args(1).toInt else 2
    def sizes(i: Int, d: String) = (if (args.length > i) args(i) else d).split(",").filter(_.nonEmpty).map(_.toLong)
    val textRows = sizes(2, "1000,4000,16000")
    val shortRows = sizes(3, "16384,65536")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def seconds(body: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // peak live heap above the idle baseline, sampled by a full GC every 50 ms
    def liveHeap(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    def peakHeap(body: => Unit): Long = {
      val baseline = liveHeap()
      @volatile var running = true
      var peak = baseline
      val sampler = new Thread(() => while (running) { peak = math.max(peak, liveHeap()); Thread.sleep(50) })
      sampler.start()
      try body finally { running = false; sampler.join() }
      peak - baseline
    }
    val base = Files.createTempDirectory("graft-flushprobe").toString
    val cfg = BuildConfig(nPartitions = cores, nGroups = 1, nSlices = cores)
    def shortPages(n: Long): Dataset[Page] = spark.range(0, n, 1, cores).map { i =>
      val text = (0 until 16).map(j => f"w${(i * 31 + j * 7) % 5000}%04d").mkString(" ") + f" d$i%09d"
      val url = f"https://short.example/$i%010d"
      Page(url, new java.sql.Timestamp(1609459200000L + i * 1000L), HtmlText.wrap(url, text), text, "en")
    }
    val inputs = textRows.map(n => (s"text-$n", PagesGen.pages(spark, n, cores))) ++
      shortRows.map(n => (s"short-$n", shortPages(n)))
    // warm-up: JIT-compile both paths
    IndexBuilder.build(spark, PagesGen.pages(spark, 500, cores), s"$base/warm-b", cfg)
    IndexBuilder.flushOrBuild(spark, PagesGen.pages(spark, 500, cores), s"$base/warm-f", cfg,
      Int.MaxValue, Long.MaxValue, Int.MaxValue)

    var k = 0
    inputs.foreach { case (name, pages) =>
      val (rows, chars) = pages.map(p => (1L, p.text.length.toLong)).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      (0 until reps).foreach { r =>
        val order = if (r % 2 == 0) Seq("build", "flush") else Seq("flush", "build")
        order.foreach { path =>
          k += 1
          val dir = s"$base/$k"
          System.err.println(s"FLUSHPROBE-RUN $name $path")
          def run(d: String): Unit =
            if (path == "build") IndexBuilder.build(spark, pages, d, cfg)
            else require(IndexBuilder.flushOrBuild(spark, pages, d, cfg, Int.MaxValue, Long.MaxValue, Int.MaxValue))
          IndexBuilder.stageTimes.clear()
          val sec = seconds(run(dir))
          val stages = IndexBuilder.stageTimes.toSeq.sortBy(_._1).map { case (s, t) => f""""$s":$t%.2f""" }.mkString(",")
          val heap = peakHeap(run(s"$dir-heap"))
          println(f"""FLUSHPROBE{"input":"$name","rows":$rows,"text_mib":${2.0 * chars / (1 << 20)}%.1f,"path":"$path","sec":$sec%.2f,"peak_live_heap_mib":${heap / 1048576.0}%.0f,"stages":{$stages}}""")
          Seq(dir, s"$dir-heap").foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
        }
      }
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    spark.stop()
  }
}
