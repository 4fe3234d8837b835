package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Optimization-round profiling harness (guide §1: measure first) —
  * SEPARATE from the frozen `Bench` main. Runs named gate queries (or
  * all) with the bench's exact session shape and action (`.count()`),
  * and reports per query: cold+warm seconds, Spark job count, stage
  * count, task count, and summed executor task time. The job/stage/task
  * counts are the overhead denominators that dominate sub-second gate
  * queries at sf0.1; the summed task time separates scheduling overhead
  * from real compute.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.BenchExtra [query...]"`
  * Optional env:
  *   GRAFT_EXTRA_EXPLAIN=/path/dir — write `<dir>/<query>.txt` per query:
  *                                   its initial plan and, after one run
  *                                   of that same QueryExecution, the final
  *                                   adaptive plan (so the "cold" run that
  *                                   follows is no longer cold)
  *   GRAFT_EXTRA_RUNS=n            — timed runs per query (default 2)
  */
object BenchExtra {

  private final class Counter extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
    }
    def snap(): (Long, Long, Long, Double) =
      (jobs.get, stages.get, tasks.get, taskNanos.get / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("GRAFT_EXTRA_RUNS", "2").toInt
    val explainDir = sys.env.get("GRAFT_EXTRA_EXPLAIN")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)

    val all = SparkEntry.queries
    val names =
      if (args.nonEmpty) args.toSeq
      else all.keys.toSeq.sorted
    // same fixture warmup as the frozen bench part 1
    SparkEntry.indexFor(spark, sfDir)
    SparkEntry.splitIndexesFor(spark, sfDir)
    SparkEntry.titleIndexFor(spark, sfDir)
    SparkEntry.titleSplitIndexesFor(spark, sfDir)
    SparkEntry.compactedFamilyFor(spark, sfDir)
    SparkEntry.deletedIndexFor(spark, sfDir)
    SparkEntry.purgedIndexFor(spark, sfDir)
    SparkEntry.upsertFamilyFor(spark, sfDir)
    OpsQueries.warmFixtures(spark, sfDir)

    names.foreach { name =>
      val fn = all.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))
      explainDir.foreach { d =>
        new java.io.File(d).mkdirs()
        val qe = fn(spark, sfDir).queryExecution
        val initial = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        // run THIS QueryExecution so AQE finalizes (runtime joins,
        // coalescing, stage reuse) — a df.count() would build a fresh
        // QueryExecution and leave this one unexecuted
        qe.toRdd.count()
        val pw = new java.io.PrintWriter(s"$d/$name.txt")
        try pw.write(s"== Initial plan (before execution) ==\n$initial\n\n" +
          s"== Final adaptive plan (after execution) ==\n${qe.explainString(org.apache.spark.sql.execution.FormattedMode)}")
        finally pw.close()
      }
      val secs = (1 to runs).map { i =>
        spark.sparkContext.setJobDescription(s"$name run$i")
        val pre = counter.snap()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val post = counter.snap()
        if (i == runs)
          println(f"EXTRAQ $name run$i $dt%.3f s rows=$n jobs=${post._1 - pre._1} " +
            f"stages=${post._2 - pre._2} tasks=${post._3 - pre._3} " +
            f"taskSecs=${post._4 - pre._4}%.2f")
        dt
      }
      println(f"""EXTRAJ{"q":"$name","cold":${secs.head}%.3f,"warm":${secs.last}%.3f}""")
    }
    spark.stop()
  }
}
