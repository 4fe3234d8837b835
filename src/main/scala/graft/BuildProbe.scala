package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.sources.PagesGen

/** Build-pipeline profiling harness: one index build at the given core
  * count with per-stage timings (GRAFT_BUILD_VERBOSE).
  * Run: `GRAFT_BUILD_VERBOSE=1 sbt "runMain graft.BuildProbe 8 240000"`.
  */
object BuildProbe {
  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 32
    val nDocs = if (args.length > 1) args(1).toLong else 240000L
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The build moves ~15 GB through Hadoop local-FS streams per run;
      // the 4 KB io.file.buffer.size default means a syscall + CRC update
      // every 4 KB. 128 KB write buffers + 1 MB shuffle buffers are the
      // standard production sizing (guide §9-adjacent); paired A/B on
      // this box won 3 of 4 same-window pairs (e.g. 66.8s -> 48.9s).
      .config("spark.hadoop.io.file.buffer.size", "131072")
      .config("spark.shuffle.file.buffer", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Scale-adaptive partitioning (guide §2): ~8 waves of tasks per core
    // rather than a constant tuned for one level. Paired A/B on this box:
    // at 32 cores 256 parts beat 64 in every pair (best 37.3s vs 48.3s —
    // smaller per-task combine state, smoother skew/straggler tail); at
    // 8 cores 64 beat 256 in every pair (fewer-task overhead wins when
    // the per-task state already fits). A cluster deployment would scale
    // this with input size as well; the env override stays for that.
    val nParts = sys.env.get("GRAFT_PROBE_PARTS").map(_.toInt).getOrElse(8 * cores)
    // Stage the corpus as a parquet table first and build FROM THE TABLE
    // (north-rule input shape) — an in-heap .cache() of the corpus skews
    // the measurement: at multi-GB corpora it competes with execution
    // memory and collapses 32-core throughput.
    val base = Files.createTempDirectory(s"graft-probe").toString
    PagesGen.pages(spark, nDocs, nParts)
      .write.mode("overwrite").parquet(s"$base/pages")
    val pages = spark.read.parquet(s"$base/pages").as[Page](
      org.apache.spark.sql.Encoders.product[Page])
    val dir = s"$base/idx"
    val textBytes = pages.select(sum(octet_length(col("text")))).head().getLong(0)
    // total shuffle write bytes of the build
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    val t0 = System.nanoTime()
    val nGroups = sys.env.getOrElse("GRAFT_PROBE_GROUPS", "1").toInt
    // positions default ON (ES text fields index positions by default —
    // the honest comparison against the reference's ES ingest numbers)
    val positions = sys.env.getOrElse("GRAFT_PROBE_POSITIONS", "true").toBoolean
    IndexBuilder.build(spark, pages, dir,
      BuildConfig(nPartitions = nParts, nGroups = nGroups, nSlices = 16, blockSize = 128,
        positions = positions))
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[probe] cores=$cores docs=$nDocs total=$secs%.2fs tp=${nDocs / secs}%.0f docs/s")
    // machine-readable lines for the Bench parent process: totals + the
    // per-stage breakdown (scaling residuals must be attributable)
    println(f"""PROBE{"cores":$cores,"docs":$nDocs,"secs":$secs%.3f,"tp":${nDocs / secs}%.1f,"mib_s":${textBytes / 1048576.0 / secs}%.2f,"shuffle_mb":${shuffleBytes.get / 1048576.0}%.1f,"index_dir":"$dir"}""")
    val stages = IndexBuilder.stageTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")
    println(s"""STAGES{$stages}""")
    spark.stop()
  }
}
