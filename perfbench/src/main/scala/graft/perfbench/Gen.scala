package graft.perfbench

import java.util.SplittableRandom
import graft.Page
import graft.sources.{HtmlText, PagesGen}

/** Seeded inputs: the corpus and the op streams are pure functions of
  * the workload seed, so a seed names one exact input and the engine sees
  * only what is generated here.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** A window of `PagesGen` rows `[offset, offset + n)`. Rows are pure
    * functions of their index, so a seed-derived offset gives each seed
    * its own documents with the generator's Zipf and rare-term shape.
    */
  final case class Corpus(offset: Long, n: Int) {
    def row(i: Int): Long = offset + i
    def page(i: Int): Page = PagesGen.pageFor(row(i))
    def text(i: Int): String = PagesGen.textFor(row(i))
    def url(i: Int): String = page(i).url

    /** UTF-8 bytes of every text, the denominator of the bytes-per-text-byte metrics. */
    lazy val textBytes: Long =
      (0 until n).iterator.map(i => text(i).getBytes("UTF-8").length.toLong).sum

    /** CRC32 over url, text and html of every row in order. */
    lazy val checksum: Long = {
      val c = new java.util.zip.CRC32()
      (0 until n).foreach { i =>
        val p = page(i)
        c.update(p.url.getBytes("UTF-8")); c.update(0)
        c.update(p.text.getBytes("UTF-8")); c.update(0)
        c.update(p.html)
      }
      c.getValue
    }

    /** Injected `rareterm*` words present in this window (PagesGen puts
      * `rareterm{r % 1009}` on rows with r % 101 == 7, except on its
      * empty, Cyrillic and duplicate rows).
      */
    lazy val rareTerms: IndexedSeq[String] =
      (0 until n).map(row).filter(r => r % 101 == 7 && PagesGen.textFor(r).contains("rareterm"))
        .map(r => s"rareterm${r % 1009}").distinct
  }

  /** Offsets are spaced 10^7 rows apart, so corpora of different seeds never share a url. */
  def corpus(seed: Long, stream: Long, n: Int): Corpus =
    Corpus(((mix(seed * 31 + stream) >>> 1) % 100000L) * 10000000L, n)

  /** First five words of a text: the title field the fielded queries target. */
  def title(text: String): String = text.split(" ").take(5).mkString(" ")

  /** The title corpus shares the body corpus's urls (hence doc ids). */
  def titlePage(p: Page): Page = {
    val t = title(p.text)
    p.copy(text = t, html = HtmlText.wrap(p.url, t))
  }

  // ---- term draws --------------------------------------------------------

  /** Term bands: the Zipf head (w0..w39), a mid band (w300..w1499) and the
    * corpus's injected rare terms.
    */
  val Head = 0
  val Mid = 1
  val Rare = 2

  /** Draws query terms band by band, with deliberate repeats: a quarter
    * of draws repeat an earlier term of the same band.
    */
  final class Terms(rng: SplittableRandom, rare: IndexedSeq[String]) {
    private val seen = Array.fill(3)(scala.collection.mutable.ArrayBuffer.empty[String])
    private val seenSet = scala.collection.mutable.HashSet.empty[String]
    var draws = 0L
    var repeats = 0L

    def next(band: Int): String = {
      val b = if (band == Rare && rare.isEmpty) Mid else band
      val t =
        if (seen(b).nonEmpty && rng.nextInt(4) == 0) seen(b)(rng.nextInt(seen(b).size))
        else b match {
          case Head => s"w${rng.nextInt(40)}"
          case Mid => s"w${300 + rng.nextInt(1200)}"
          case _ => rare(rng.nextInt(rare.size))
        }
      draws += 1
      if (seenSet.contains(t)) repeats += 1
      else { seenSet += t; seen(b) += t }
      t
    }

    /** One term per band in `bands`, all distinct. */
    def of(bands: Int*): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      bands.foreach { b => var t = next(b); while (out.contains(t)) t = next(b); out += t }
      out.toSeq
    }

    def repeatShare: Double = if (draws == 0) 0.0 else repeats.toDouble / draws
  }

  /** Term-query shapes (bands, mode), cycled in order: the cost of a
    * shape depends on its bands, so every window holds the same shapes
    * whatever the seed.
    */
  val TermShapes: Seq[(Seq[Int], String)] = Seq(
    (Seq(Head), "or"), (Seq(Mid, Mid), "or"), (Seq(Head, Mid, Rare), "or"),
    (Seq(Head, Mid), "and"), (Seq(Rare), "or"), (Seq(Mid, Rare), "or"))

  // ---- serve ops -----------------------------------------------------------

  sealed trait ServeOp { def kind: String }
  final case class TermOp(terms: Seq[String], mode: String, local: Boolean) extends ServeOp {
    def kind: String = if (local) "term_local" else "term"
  }
  final case class PhraseOp(words: Seq[String], slop: Int) extends ServeOp { def kind = "phrase" }
  final case class ExpandOp(how: String, arg: String) extends ServeOp { def kind = "expand" }
  final case class BoolOp(q: String) extends ServeOp { def kind = "bool" }
  final case class AggOp(how: String, terms: Seq[String]) extends ServeOp { def kind = "agg" }
  final case class BatchOp(queries: Seq[(Seq[String], String)]) extends ServeOp { def kind = "batch" }

  /** One period of the serve mix. Each period holds every shape of every
    * kind (both term paths over every term shape, phrase with and
    * without slop, prefix, wildcard and fuzzy, both bool trees, both
    * aggregations), so a window of whole periods has a fixed composition
    * whatever the seed.
    */
  val ServePeriod: Seq[String] = Seq(
    "term_local", "term", "phrase", "term_local", "expand", "term", "bool", "term_local",
    "term", "agg", "expand", "term_local", "phrase", "term", "bool", "term_local", "expand",
    "term", "agg", "term_local", "term", "batch")

  /** The serve request stream for `seed` over `corpus`, in whole periods (infinite). */
  def serveOps(seed: Long, corpus: Corpus): Iterator[Seq[ServeOp]] = {
    val rng = new SplittableRandom(mix(seed ^ 0x5e27eL))
    serveOps(rng, new Terms(rng, corpus.rareTerms), corpus)
  }

  def serveOps(rng: SplittableRandom, terms: Terms, corpus: Corpus): Iterator[Seq[ServeOp]] =
    Iterator.continually {
      val nth = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
      ServePeriod.map { kind =>
        val j = nth(kind)
        nth(kind) = j + 1
        kind match {
          case "term" | "term_local" =>
            val (bands, mode) = TermShapes(j % TermShapes.size)
            TermOp(terms.of(bands: _*), mode, local = kind == "term_local")
          case "phrase" =>
            // consecutive words of a real doc, so every phrase has a match
            val words = longText(rng, corpus).split("\\s+")
            val len = 2 + j
            val at = rng.nextInt(words.length - len + 1)
            PhraseOp(words.slice(at, at + len).toSeq, j)
          case "expand" =>
            j match {
              case 0 => ExpandOp("prefix", s"w${10 + rng.nextInt(90)}")
              case 1 => ExpandOp("wildcard", s"w${10 + rng.nextInt(40)}?${rng.nextInt(10)}")
              case _ => ExpandOp("fuzzy", s"w${100 + rng.nextInt(900)}")
            }
          case "bool" =>
            if (j == 0) {
              val Seq(a, b, c, d) = terms.of(Head, Mid, Head, Mid)
              BoolOp(s"($a OR $b) AND $c -$d doc_len:[40 TO 160]")
            } else {
              val Seq(a, b, c, d) = terms.of(Head, Mid, Mid, Head)
              BoolOp(s"title:$a AND ($b OR $c) lang:en AND NOT $d")
            }
          case "agg" =>
            if (j == 0) AggOp("date_histogram", terms.of(Mid)) else AggOp("terms", terms.of(Mid, Rare))
          case _ =>
            BatchOp((0 until 100).map { i =>
              val (bands, mode) = TermShapes(i % TermShapes.size)
              (terms.of(bands: _*), mode)
            })
        }
      }
    }

  private def longText(rng: SplittableRandom, corpus: Corpus): String = {
    var t = corpus.text(rng.nextInt(corpus.n))
    while (t.count(_ == ' ') < 8) t = corpus.text(rng.nextInt(corpus.n))
    t
  }

  // ---- churn ops -----------------------------------------------------------

  /** One churn cycle: an upsert batch (rows of the churn corpus window,
    * a share of them re-versions of urls already written), a url delete
    * and the reads that run before the compaction step.
    */
  final case class Cycle(
      upsertRows: Seq[Int], // corpus row indexes; urls repeat across cycles
      deleteRows: Seq[Int],
      reads: Seq[Either[(Seq[String], String), String]] // family topK or query_string
  )

  /** Churn cycles for `seed`: batch `i` takes `fresh` new rows plus
    * `overlap` rows drawn from everything written before it.
    */
  def churnCycles(seed: Long, corpus: Corpus, base: Int, fresh: Int, overlap: Int,
      deletes: Int, reads: Int, rare: IndexedSeq[String]): Iterator[Cycle] = {
    val rng = new SplittableRandom(mix(seed ^ 0xc4a2L))
    val terms = new Terms(rng, rare)
    var written = base
    Iterator.continually {
      val newRows = (written until math.min(corpus.n, written + fresh))
      val old = Seq.fill(overlap)(rng.nextInt(written)).distinct
      written += newRows.size
      val dels = Seq.fill(deletes)(rng.nextInt(written)).distinct.filterNot(old.contains)
      val rs = (0 until reads).map { j =>
        if (j % 2 == 0) Left((terms.of(Head, Mid), "or"))
        else {
          val Seq(a, b, c) = terms.of(Head, Mid, Mid)
          Right(s"($a OR $b) AND NOT $c")
        }
      }
      Cycle((old ++ newRows).sorted, dels, rs)
    }
  }
}
