package graft.perfbench

/** A workload: how to set it up, the closed loop its window runs, and
  * the output checks that follow. `Env` is one set-up's state; a run
  * makes several identical ones (the median set-up time is reported, and
  * a traced run measures its untraced and traced windows on two of them).
  */
trait Workload {
  type Env
  def name: String
  /** The op kinds a window times; `mix_s` weights each one equally. */
  def kinds: Seq[String]
  def setup(run: Run, k: Int): Env
  /** Untimed calls on an env no window measures, so windows run compiled code. */
  def warmup(run: Run, env: Env): Unit
  /** Runs ops through `w.op` while `w.open`. */
  def window(w: Window, env: Env): Unit
  /** Untimed output checks over what the window returned. */
  def check(w: Window, env: Env): Unit
  /** (stored bytes, bytes of (live) text) at the end of the window. */
  def storedAndTextBytes(env: Env): (Long, Long)
  def corpus(env: Env): Gen.Corpus
  /** An index of `env` whose blocks the codec rates are measured on. */
  def someIndex(env: Env): String
  /** Fails the run when the traced window reached the wrong layers, read
    * from the engine's own counters (build stage times, WAND decodes).
    */
  def layerSplit(w: Window): Unit
}

object Workload {
  val all: Map[String, Workload] =
    Seq(BuildWorkload, ServeWorkload, ChurnWorkload).map(w => w.name -> w).toMap

  /** Byte size of every file under `dir`. */
  def dirBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def rmrf(dir: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Stage corpus `rows` as parquet under `dir` (the input a build reads). */
  def stage(run: Run, corpus: Gen.Corpus, rows: Seq[Int], dir: String): Unit = {
    val spark = run.spark
    import spark.implicits._
    spark.createDataset(rows).repartition(run.cores).map(i => corpus.page(i))
      .write.mode("overwrite").parquet(dir)
  }

  def readPages(run: Run, dir: String): org.apache.spark.sql.Dataset[graft.Page] = {
    val spark = run.spark
    import spark.implicits._
    spark.read.parquet(dir).as[graft.Page]
  }

  /** (doc_id, url) of an index's docs table. */
  def docUrls(run: Run, indexDir: String): Array[(Long, String)] = {
    val spark = run.spark
    import spark.implicits._
    spark.read.parquet(s"$indexDir/docs").select($"doc_id", $"url").as[(Long, String)].collect()
  }

  /** Row index of a corpus url (`.../p/<row>`). */
  def rowOf(corpus: Gen.Corpus, url: String): Int = (url.substring(url.lastIndexOf('/') + 1).toLong - corpus.offset).toInt
}
