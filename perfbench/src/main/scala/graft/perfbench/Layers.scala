package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.functions.{Analyzer, Codec}
import graft.index.IndexBuilder
import graft.sources.HtmlText

/** The per-layer metrics a traced run reports, and the timed calls into
  * the `sources` and `functions` layers that produce their rates. Every
  * workload reports every name; a layer the workload does not reach
  * reads 0, which is what the layer-split check relies on.
  */
object Layers {
  val QueryOps: Seq[String] = Seq("term", "term_local", "phrase", "expand", "bool", "agg", "batch", "family")
  val WriteOps: Seq[String] = Seq("upsert", "delete", "compact")
  val BuildStages: Seq[String] = Seq("dense-id", "docs-write", "postings", "metrics", "terms", "attrs", "stats")
  private val QueryFields = Seq(
    "dict_resolve_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "idle_s" -> "s", "task_s" -> "s", "input_bytes" -> "B", "shuffle_bytes" -> "B",
    "rows_read_per_hit" -> "rows/hit", "blocks_decoded" -> "count", "pos_blocks_decoded" -> "count")

  /** (name, unit) of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] =
    Seq("sources.html_extract_mib_per_s", "functions.tokenize_mib_per_s",
      "functions.codec_encode_mib_per_s", "functions.codec_decode_mib_per_s").map(_ -> "MiB/s") ++
    BuildStages.map(s => s"index.build.${s}_s" -> "s") ++
    Seq("index.build.shuffle_write_bytes" -> "B", "index.build.spill_bytes" -> "B",
      "index.build.cpu_s" -> "s", "index.build.gc_s" -> "s", "index.build.tasks" -> "count",
      "index.build.postings_task_max_over_median" -> "ratio", "index.build.bytes_written" -> "B") ++
    WriteOps.flatMap(w => Seq(s"index.$w.jobs" -> "count", s"index.$w.bytes_written" -> "B",
      s"index.$w.task_s" -> "s")) ++
    Seq("index.segments_live" -> "count", "index.tombstoned_docs" -> "count") ++
    QueryOps.flatMap(op => QueryFields.map { case (f, u) => s"query.$op.$f" -> u }) ++
    Seq("trace.self.bench_s" -> "s", "trace.self.index_s" -> "s", "trace.self.query_s" -> "s",
      "trace.untraced_mix_s" -> "s", "trace.traced_mix_s" -> "s", "trace.overhead_share" -> "ratio")

  /** Per-op means of a traced window's sums, named as in [[Metrics]]. */
  def fromWindow(w: Window): Map[String, Double] = {
    val l = w.layer
    def sum(k: String) = l.getOrElse(k, 0.0)
    def perOp(k: String, ops: Double) = if (ops > 0) sum(k) / ops else 0.0
    val q = QueryOps.flatMap { op =>
      val n = sum(s"ops.$op")
      QueryFields.map(_._1).filter(_ != "rows_read_per_hit").map(f => s"query.$op.$f" -> perOp(s"query.$op.$f", n)) :+
        (s"query.$op.rows_read_per_hit" -> sum(s"query.$op.rows_read") / math.max(1.0, sum(s"query.$op.hits")))
    }
    val wr = WriteOps.flatMap { op =>
      val n = sum(s"index.$op.calls")
      Seq("jobs", "bytes_written", "task_s").map(f => s"index.$op.$f" -> perOp(s"index.$op.$f", n))
    }
    val builds = sum("builds")
    val b = Metrics.map(_._1).filter(_.startsWith("index.build.")).map(k => k -> perOp(k, builds))
    val samples = sum("segment_samples")
    val timedOps = w.attempted.toDouble
    val self = w.tracer.selfSecondsByLayer
    (q ++ wr ++ b ++ Seq(
      "index.segments_live" -> perOp("index.segments_live", samples),
      "index.tombstoned_docs" -> perOp("index.tombstoned_docs", samples),
      "trace.self.bench_s" -> self.getOrElse("bench", 0.0) / math.max(1.0, timedOps),
      "trace.self.index_s" -> self.getOrElse("index", 0.0) / math.max(1.0, timedOps),
      "trace.self.query_s" -> self.getOrElse("query", 0.0) / math.max(1.0, timedOps))).toMap
  }

  private def mibPerS(bytes: Long, secs: Double) = bytes / 1048576.0 / math.max(secs, 1e-9)

  /** Repeats `body` over `items` until at least `minSecs` have passed;
    * returns (seconds, passes).
    */
  private def timedPasses[A](items: Seq[A], minSecs: Double)(body: A => Unit): (Double, Int) = {
    val t0 = System.nanoTime()
    var passes = 0
    while ((System.nanoTime() - t0) / 1e9 < minSecs || passes == 0) {
      items.foreach(body)
      passes += 1
    }
    ((System.nanoTime() - t0) / 1e9, passes)
  }

  /** Timed `HtmlText.extract` and `Analyzer.termPositions` over corpus
    * rows, and `Codec` decode/encode over the blocks of a built index.
    * Returns the four rates and fails the run on a wrong answer.
    */
  def micro(run: Run, w: Window, corpus: Gen.Corpus, indexDir: String): Map[String, Double] = {
    val spark: SparkSession = run.spark
    import spark.implicits._
    w.tracer.beginOp(-2)
    val rows = (0 until math.min(corpus.n, 4000)).map(corpus.page)
    val htmlBytes = rows.map(_.html.length.toLong).sum
    val textBytes = rows.map(_.text.getBytes("UTF-8").length.toLong).sum
    var bad = 0
    val (xs, xp) = w.tracer.span("sources.html_extract")(timedPasses(rows, 0.3) { p =>
      if (HtmlText.extract(p.html) != p.text) bad += 1
    })
    val (ts, tp) = w.tracer.span("functions.tokenize")(timedPasses(rows, 0.3) { p =>
      Analyzer.termPositions(p.text)
    })
    val blocks = IndexBuilder.readPostings(spark, indexDir)
      .select($"doc_id_min", $"count", $"deltas", $"tfs", $"dls").limit(20000)
      .as[(Long, Int, Array[Byte], Array[Byte], Array[Byte])].collect().toSeq
    val blockBytes = blocks.map(b => b._3.length + b._4.length + b._5.length).sum.toLong
    val decoded = blocks.map(b => (Codec.decodeGapsFromBase(b._1, b._3, b._2),
      Codec.decodeIntsAuto(b._4, b._2), Codec.decodeIntsAuto(b._5, b._2)))
    val (ds, dp) = w.tracer.span("functions.codec_decode")(timedPasses(blocks, 0.3) { b =>
      Codec.decodeGapsFromBase(b._1, b._3, b._2)
      Codec.decodeIntsAuto(b._4, b._2)
      Codec.decodeIntsAuto(b._5, b._2)
    })
    val (es, ep) = w.tracer.span("functions.codec_encode")(timedPasses(decoded, 0.3) { d =>
      Codec.encodeGapsFromBase(d._1); Codec.encodeIntsAuto(d._2); Codec.encodeIntsAuto(d._3)
    })
    decoded.zip(blocks).foreach { case (d, b) =>
      if (!java.util.Arrays.equals(Codec.encodeIntsAuto(d._2), b._4) ||
          !Codec.decodeGapsFromBase(b._1, Codec.encodeGapsFromBase(d._1), b._2).sameElements(d._1))
        bad += 1
    }
    if (bad > 0) run.fail(s"$bad layer round trips (extract, codec) disagreed with the stored bytes")
    Map(
      "sources.html_extract_mib_per_s" -> mibPerS(htmlBytes * xp, xs),
      "functions.tokenize_mib_per_s" -> mibPerS(textBytes * tp, ts),
      "functions.codec_decode_mib_per_s" -> mibPerS(blockBytes * dp, ds),
      "functions.codec_encode_mib_per_s" -> mibPerS(blockBytes * ep, es))
  }
}
