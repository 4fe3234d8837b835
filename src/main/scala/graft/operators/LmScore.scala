package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet shape (Wenzek et
  * al. 2020, public methodology): train a small LM on a curated
  * reference corpus (CCNet: Wikipedia; here: any docs frame), score
  * every candidate document by per-token log-probability, and filter or
  * tier the corpus by the score (low LM fit ⇒ boilerplate/gibberish).
  * CCNet uses KenLM 5-grams; this is the distributable bigram core with
  * Laplace (add-one) smoothing:
  *
  *   logp(doc) = Σ over bigrams (w1 w2):  ln((c(w1,w2) + 1) / (c(w1) + V))
  *
  * with V = |train unigram vocabulary|. The score is accumulated in e6
  * FIXED POINT per bigram (round(ln(p)·1e6) summed as integers) so the
  * total is independent of summation order — exactly SQL-mirrorable.
  *
  * Scale shape: the reference corpus is small and curated BY CONTRACT
  * (CCNet's is one language's Wikipedia), so the trained tables
  * BROADCAST; scoring is a pure map over the candidate corpus — zero
  * shuffle at any corpus size. Training is two hash aggregations over
  * the reference frame.
  */
object LmScore {

  /** Trained model: bigram counts, unigram counts, vocabulary size. */
  final case class Model(
      bigrams: Map[(String, String), Long],
      unigrams: Map[String, Long],
      vocab: Long
  ) {
    /** e6-quantized ln P(w2 | w1) with add-one smoothing. */
    def logpE6(w1: String, w2: String): Long = {
      val c12 = bigrams.getOrElse((w1, w2), 0L)
      val c1 = unigrams.getOrElse(w1, 0L)
      math.round(math.log((c12 + 1).toDouble / (c1 + vocab)) * 1e6)
    }
  }

  /** Train on a reference frame (whitespace tokens, the engine-wide
    * analyzer contract). Collects to the driver — the curated-reference
    * contract; a web-scale train side belongs in a different estimator.
    */
  def train(ref: DataFrame, textCol: String): Model = {
    val spark = ref.sparkSession
    import spark.implicits._
    val toks = ref.where(col(textCol) =!= "")
      .select(split(col(textCol), " ").as("t"))
    val uni = toks.select(explode($"t").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ the reference vocabulary's size
    val bi = toks
      .select(explode(
        filter(
          transform(sequence(lit(0), greatest(size($"t") - 2, lit(0))),
            i => when(i + 2 <= size($"t"),
              struct(element_at($"t", i + 1).as("w1"), element_at($"t", i + 2).as("w2")))),
          g => g.isNotNull)).as("g"))
      .groupBy($"g.w1", $"g.w2").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap // ≤ its distinct bigrams
    Model(bi, uni, uni.size.toLong)
  }

  /** Score candidates: (idCol, n_bigrams, logp_e6). Docs with < 2 tokens
    * are dropped (no bigram evidence). logp_e6 = Σ per-bigram e6 logs —
    * integer sum, order-free; callers threshold on logp_e6 / n_bigrams
    * (per-token LM fit, the CCNet head/middle/tail tiering statistic).
    */
  def score(docs: DataFrame, idCol: String, textCol: String, model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bModel = spark.sparkContext.broadcast(model)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        if (toks.length < 2) None
        else {
          val m = bModel.value
          var s = 0L
          var i = 0
          while (i < toks.length - 1) {
            s += m.logpE6(toks(i), toks(i + 1))
            i += 1
          }
          Some((id, (toks.length - 1).toLong, s))
        }
      }
      .toDF(idCol, "n_bigrams", "logp_e6")
  }
}
