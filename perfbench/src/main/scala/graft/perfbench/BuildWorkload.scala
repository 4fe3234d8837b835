package graft.perfbench

import graft.index.IndexBuilder

/** `build`: `IndexBuilder.build` with positions over a parquet-staged
  * corpus, one build per op. Runs the sources -> functions -> index path
  * and no query code, so a build-side change shows here and nowhere in
  * `serve`.
  */
object BuildWorkload extends Workload {
  val Docs = 16000
  final case class Env(corpus: Gen.Corpus, pages: String, var builds: Int = 0,
      var indexBytes: Long = -1L, var keep: String = null, var fingerprint: Seq[Long] = null)

  def name = "build"
  def kinds = Seq("build")

  def setup(run: Run, k: Int): Env = {
    val corpus = Gen.corpus(run.seed, 0, Docs)
    val pages = run.dir(s"env$k/pages")
    Workload.stage(run, corpus, 0 until Docs, pages)
    Env(corpus, pages)
  }

  /** One small untimed build first, so the window's builds run compiled code. */
  def warmup(run: Run, env: Env): Unit = {
    val corpus = Gen.corpus(run.seed, 2, 2000)
    val dir = run.dir("warmup")
    Workload.stage(run, corpus, 0 until corpus.n, s"$dir/pages")
    IndexBuilder.build(run.spark, Workload.readPages(run, s"$dir/pages"), s"$dir/idx", run.buildCfg)
    Workload.rmrf(dir)
  }

  def window(w: Window, env: Env): Unit = {
    val run = w.run
    w.start()
    while (w.open) {
      val out = s"${env.pages}-idx${env.builds}"
      env.builds += 1
      val pages = Workload.readPages(run, env.pages)
      w.op("build", "index.build")(IndexBuilder.build(run.spark, pages, out, run.buildCfg)).foreach { _ =>
        val n = IndexBuilder.readStats(run.spark, out).n_docs
        if (n != Docs) {
          run.fail(s"build produced n_docs=$n for $Docs corpus rows")
          w.log.failedLate("build")
        }
        // a rebuild of the same corpus writes the same docs, postings and
        // attrs bytes and the same dictionary rows (the dictionary's file
        // split points come from sampled range bounds, so its bytes vary)
        val fp = Seq("docs", "postings", "attrs").map(t => Workload.dirBytes(s"$out/$t")) :+
          run.spark.read.parquet(s"$out/terms").count()
        if (env.fingerprint != null && fp != env.fingerprint) {
          run.fail(s"rebuild of the same corpus differs: $fp vs ${env.fingerprint}")
          w.log.failedLate("build")
        }
        env.fingerprint = fp
        env.indexBytes = Workload.dirBytes(out)
        // keep one index for the codec rates; drop the rest to bound disk
        if (env.keep == null) env.keep = out else Workload.rmrf(out)
      }
    }
  }

  def check(w: Window, env: Env): Unit = ()

  def storedAndTextBytes(env: Env): (Long, Long) = (env.indexBytes, env.corpus.textBytes)

  def corpus(env: Env): Gen.Corpus = env.corpus
  def someIndex(env: Env): String = env.keep

  /** No query code ran: WAND decoded no posting or position block. */
  def layerSplit(w: Window): Unit =
    if (w.blockDecodes != 0 || w.posBlockDecodes != 0)
      w.run.fail(s"build reached the query layer: ${w.blockDecodes} blocks, ${w.posBlockDecodes} position blocks decoded")
}
