package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("the same seed gives the same corpus checksum and op streams") {
    def inputs(seed: Long) = {
      val corpus = Gen.corpus(seed, 0, 500)
      val churn = Gen.corpus(seed, 1, 5000)
      (corpus.checksum, Gen.serveOps(seed, corpus).take(3).toList,
        Gen.churnCycles(seed, churn, 500, 40, 20, 5, 2, IndexedSeq("rareterm7")).take(5).toList)
    }
    assert(inputs(7) == inputs(7))
    val (c7, s7, ch7) = inputs(7)
    val (c8, s8, ch8) = inputs(8)
    assert(c7 != c8 && s7 != s8 && ch7 != ch8)
  }

  test("corpora of different seeds share no url") {
    val a = Gen.corpus(1, 0, 1000)
    val b = Gen.corpus(2, 0, 1000)
    assert((0 until a.n).map(a.url).toSet.intersect((0 until b.n).map(b.url).toSet).isEmpty)
  }

  test("every serve period holds every op shape") {
    val period = Gen.serveOps(3, Gen.corpus(3, 0, 500)).next()
    assert(period.map(_.kind) == Gen.ServePeriod)
    val shapes = period.collect {
      case Gen.PhraseOp(_, slop) => s"phrase-${math.min(slop, 1)}"
      case Gen.ExpandOp(how, _) => how
      case Gen.AggOp(how, _) => how
      case Gen.TermOp(_, _, local) => s"term-$local"
    }.toSet
    assert(shapes == Set("phrase-0", "phrase-1", "prefix", "wildcard", "fuzzy",
      "date_histogram", "terms", "term-true", "term-false"))
  }

  test("a churn batch repeats earlier urls and never repeats one within itself") {
    val corpus = Gen.corpus(5, 1, 10000)
    Gen.churnCycles(5, corpus, 1000, 100, 50, 10, 2, IndexedSeq.empty).take(4).foreach { c =>
      assert(c.upsertRows.distinct.size == c.upsertRows.size)
      assert(c.upsertRows.count(_ < 1000) > 0)
    }
  }

  test("tail percentile: the highest one with ten samples beyond it") {
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, 95) == 190.0)
    assert(xs.count(_ > Stats.percentile(xs, 95)) == 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("failed_op_ratio counts throws and failed checks over ops attempted") {
    val log = new Stats.OpLog
    log.ok("term", 0.1); log.ok("term", 0.2); log.ok("bool", 0.5)
    log.failed("bool")
    log.failedLate("term")
    assert(log.attempted == 4)
    assert(log.failedCount == 2)
    assert(log.failedOpRatio == 0.5)
    assert(log.samples("term") == Vector(0.1, 0.2))
    assert(log.countOf("bool") == 2)
    assert(new Stats.OpLog().failedOpRatio == 0.0)
  }

  test("mix_s is the mean of the kinds' medians, each kind weighted equally") {
    val log = new Stats.OpLog
    log.ok("upsert", 1.0); log.ok("upsert", 3.0)
    log.ok("delete", 1.0)
    log.ok("family", 0.5); log.ok("family", 0.5); log.ok("family", 100.0)
    log.ok("compact", 2.0)
    log.ok("other", 50.0)
    // compact_noop gave no sample and "other" is not a churn kind
    assert(Main.mixSeconds(ChurnWorkload, log) == (2.0 + 1.0 + 0.5 + 2.0) / 4)
    assert(ChurnWorkload.kinds.toSet == Set("upsert", "delete", "family", "compact", "compact_noop"))
    assert(ServeWorkload.kinds.toSet == Gen.ServePeriod.toSet)
  }

  test("BENCHMARK.json names exactly the metrics the benchmark reports") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = (0 until spec.get(key).size).map { i =>
      val m = spec.get(key).get(i)
      m.get("name").asText -> m.get("unit").asText
    }
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Layers.Metrics)
    assert((0 until spec.get("workloads").size).map(i => spec.get("workloads").get(i).get("name").asText).toSet
      .subsetOf(Workload.all.keySet))
  }

  test("JSON numbers keep every digit") {
    assert(Json.obj(Seq("v" -> 0.1234567890123, "n" -> 3L, "s" -> "a\"b")).s ==
      """{"v":0.1234567890123,"n":3,"s":"a\"b"}""")
  }
}
