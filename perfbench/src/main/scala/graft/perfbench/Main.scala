package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <build|serve|churn> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Untraced, the last stdout line is the end-to-end result; traced, it is
  * the per-layer result. The line before it (`PERFBENCH_DETAIL {...}`)
  * describes the run: inputs, configuration, per-op-kind latencies with
  * sample counts.
  */
object Main {
  val SetupRepeats = 3
  /** (name, unit) of the end-to-end metrics every untraced run reports. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "mix_s" -> "s", "bytes_per_text_byte" -> "B/B")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workload.all.getOrElse(need("workload"), sys.error(s"unknown workload ${need("workload")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = need("work")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = measure(new Run(spark, wl.name, seed, seconds, trace, work), wl)
      println(out._1)
      println(out._2)
    } finally spark.stop()
  }

  /** (detail line, result line) of one run. */
  def measure(run: Run, wl: Workload): (String, String) = {
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val envs = phase("setup")((0 until SetupRepeats).map(k => run.setup(wl.setup(run, k))))
    // env 0 is never measured: warming up on it leaves the measured state untouched
    phase("warmup")(wl.warmup(run, envs.head))
    // untraced, the last set-up is measured; traced, the untraced window
    // takes the one before it and the traced window the last
    val measured = envs(if (run.trace) SetupRepeats - 2 else SetupRepeats - 1)
    val untraced = new Window(run, traced = false)
    phase("window")(wl.window(untraced, measured))
    phase("check")(wl.check(untraced, measured))
    val windows = if (!run.trace) Seq(untraced) else {
      val traced = new Window(run, traced = true)
      phase("traced_window")(wl.window(traced, envs.last))
      phase("traced_check")(wl.check(traced, envs.last))
      wl.layerSplit(traced)
      Seq(untraced, traced)
    }
    run.detail("phase_s") = Json.obj(phases.toSeq)
    val (stored, text) = wl.storedAndTextBytes(measured)
    run.detail("stored_bytes") = stored
    run.detail("text_bytes") = text

    val metrics: Seq[(String, Double, String)] =
      if (!run.trace) {
        val v = Map(
          "setup_s" -> Stats.median(run.setupSecs.toSeq),
          "mix_s" -> mixSeconds(wl, untraced.scored),
          "bytes_per_text_byte" -> stored.toDouble / text)
        EndToEnd.map { case (name, unit) => (name, v(name), unit) }
      } else {
        val traced = windows.last
        val micro = Layers.micro(run, traced, wl.corpus(envs.last), wl.someIndex(envs.last))
        val untracedMix = mixSeconds(wl, untraced.scored)
        val tracedMix = mixSeconds(wl, traced.scored)
        val all = Layers.fromWindow(traced) ++ micro ++ Map(
          "trace.untraced_mix_s" -> untracedMix,
          "trace.traced_mix_s" -> tracedMix,
          "trace.overhead_share" -> (tracedMix - untracedMix) / untracedMix)
        writeSpans(run, traced)
        Layers.Metrics.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
      }

    val attempted = windows.map(_.attempted).sum
    val failed = windows.map(_.failedCount).sum
    val correct = run.failures.isEmpty && failed == 0 && attempted > 0
    val detail = describe(run, wl, wl.corpus(measured), stored.toDouble / text, untraced.scored,
      attempted, failed)
    val result = Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> Json.obj(Seq("value" -> v, "unit" -> u)) })))
    ("PERFBENCH_DETAIL " + detail.s, result.s)
  }

  /** The mean of the op kinds' median latencies, each kind weighted
    * equally: no source gives the shares real traffic would have. A
    * stray slow op does not move it.
    */
  def mixSeconds(wl: Workload, log: Stats.OpLog): Double = {
    val present = wl.kinds.filter(k => log.samples(k).nonEmpty)
    require(present.nonEmpty, "no op completed in the window")
    present.map(k => Stats.median(log.samples(k))).sum / present.size
  }

  private def writeSpans(run: Run, w: Window): Unit = {
    val f = new java.io.File(run.work, s"trace-${run.workload}-${run.seed}.json")
    java.nio.file.Files.writeString(f.toPath, w.tracer.toJson)
    run.detail("trace_file") = f.getPath
    run.detail("trace_spans") = w.tracer.all.size
  }

  /** Per-kind latencies (with sample counts and the highest percentile
    * that has ten samples beyond it), the workload's named metrics, and
    * the run's inputs and configuration.
    */
  private def describe(run: Run, wl: Workload, corpus: Gen.Corpus, bytesPerTextByte: Double,
      log: Stats.OpLog, attempted: Long, failed: Long): Json.Raw = {
    def latencies(n: Long, xs: Seq[Double]) = Json.obj(Seq("n" -> n) ++
      (if (xs.nonEmpty) Seq("p50_s" -> Stats.median(xs)) else Nil) ++
      Stats.tailPercentile(xs.size).toSeq.flatMap(p => Seq("tail_pct" -> p, "tail_s" -> Stats.percentile(xs, p))))
    val kinds = log.kinds.map(k => k -> latencies(log.countOf(k), log.samples(k))) :+
      ("all" -> latencies(log.attempted, log.all))
    def p50(k: String): Option[Double] = Some(log.samples(k)).filter(_.nonEmpty).map(Stats.median)
    // (name, value, unit, samples behind it)
    val named: Seq[(String, Option[Double], String, Long)] = wl.name match {
      case "build" => Seq(
        ("build_docs_per_s", p50("build").map(BuildWorkload.Docs / _), "docs/s", log.countOf("build")),
        ("index_bytes_per_text_byte", Some(bytesPerTextByte), "B/B", 1L))
      case "serve" => Seq(
        ("term_p50_s", p50("term"), "s", log.countOf("term")),
        ("term_p95_s", Some(log.samples("term")).filter(_.size >= 200).map(Stats.percentile(_, 95)), "s",
          log.countOf("term")),
        ("phrase_p50_s", p50("phrase"), "s", log.countOf("phrase")),
        ("expand_p50_s", p50("expand"), "s", log.countOf("expand")),
        ("bool_p50_s", p50("bool"), "s", log.countOf("bool")),
        ("agg_p50_s", p50("agg"), "s", log.countOf("agg")),
        ("batch_qps", p50("batch").map(100 / _), "q/s", log.countOf("batch")))
      case _ => Seq(
        ("upsert_p50_s", p50("upsert"), "s", log.countOf("upsert")),
        ("delete_p50_s", p50("delete"), "s", log.countOf("delete")),
        ("compact_p50_s", p50("compact"), "s", log.countOf("compact")),
        ("family_query_p50_s", p50("family"), "s", log.countOf("family")),
        ("family_bytes_per_live_text_byte", Some(bytesPerTextByte), "B/B", 1L))
    }
    val spark = run.spark
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Json.obj(Seq(
      "workload" -> run.workload, "seed" -> run.seed, "seconds" -> run.seconds, "trace" -> run.trace,
      "cores" -> run.cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "jvm_flags" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")).mkString(" "),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(","),
      "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA256", "unknown"),
      "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
      "spark_conf" -> Json.obj(spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
        .filter { case (k, _) => !Seq("host", "port", ".id", "startTime", "JavaOptions").exists(k.contains) }),
      "build_config" -> run.buildCfg.toString,
      "corpus_docs" -> corpus.n, "corpus_offset" -> corpus.offset,
      "corpus_checksum" -> (if (wl.name == "churn") null else corpus.checksum),
      "setup_s" -> Json.arr(run.setupSecs.toSeq),
      "attempted" -> attempted, "failed" -> failed,
      "failed_op_ratio" -> (if (attempted > 0) failed.toDouble / attempted else 0.0),
      "failures" -> Json.arr(run.failures.take(20).toSeq),
      "ops" -> Json.obj(kinds),
      "named" -> Json.obj(named.map { case (k, v, unit, n) =>
        k -> Json.obj(Seq("value" -> v.orNull, "unit" -> unit, "n" -> n)) })) ++ run.detail.toSeq)
  }
}

/** Minimal JSON writer for the result lines (numbers keep every digit). */
object Json {
  final case class Raw(s: String)
  def obj(kv: Seq[(String, Any)]): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def arr(vs: Seq[Any]): Raw = Raw(vs.map(value).mkString("[", ",", "]"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case Some(x) => value(x)
    case other => str(other.toString)
  }
}
