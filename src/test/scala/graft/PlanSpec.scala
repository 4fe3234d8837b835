package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildConfig
import graft.sources.PagesGen

/** Physical-plan assertions — the scale contract, checked in CI, not by
  * eyeballing explain output:
  *   - query-side docs reads never scan the `text` column (column pruning
  *     through the fused docs table);
  *   - posting scans push the term filter into the parquet source;
  *   - the dictionary lookup join in the gate queries broadcasts;
  *   - WAND search plans contain no cartesian/nested-loop joins.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark
  private var dir: String = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("graft-plan").toString
    IndexBuilder.build(
      spark, PagesGen.pages(spark, 300L, 4), dir,
      BuildConfig(nPartitions = 4, nGroups = 2, nSlices = 4, blockSize = 32,
        // a custom keyword field beyond the defaults: filtering on it must
        // keep the zero-exchange contract (schema-driven sidecar)
        attrs = graft.index.AttrSchema.Default :+
          graft.index.AttrSpec("host", graft.index.AttrSchema.Kw,
            "regexp_extract(url, '^[a-z]+://([^/?]+)', 1)"))
    )
  }

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("docs dimension read prunes the text column (ReadSchema without text)") {
    val df = IndexBuilder.readDocs(spark, dir).toDF()
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(scan).getOrElse("")
    assert(readSchema.nonEmpty, s"no ReadSchema in plan:\n$scan")
    assert(!readSchema.contains("text"), s"text column not pruned: $readSchema")
    assert(readSchema.contains("doc_len"))
  }

  test("postings scan pushes the term predicate to parquet (PushedFilters)") {
    val df = IndexBuilder.readPostings(spark, dir)
      .where(col("term").isin("w0", "w1"))
    val plan = executedPlan(df)
    val pushed = "PushedFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("In(term"), s"term filter not pushed down: $pushed\n$plan")
  }

  test("group-stage input prunes doc-range partitions (grp=g)") {
    val df = spark.read.parquet(s"$dir/docs").where(col("grp") === 1)
    val plan = executedPlan(df)
    // partition filter must appear as PartitionFilters, not a post-scan Filter
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*grp".r.findFirstIn(plan).isDefined,
      s"grp not a partition filter:\n$plan")
  }

  test("dictionary lookup join broadcasts the dimension (J1/J2)") {
    val events = spark.range(100).toDF("user_id")
    val dim = spark.range(10).toDF("c_custkey").withColumn("c_name", concat(lit("n"), col("c_custkey")))
    val joined = events.join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
    val plan = executedPlan(joined)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$plan")
  }

  test("search plan has no cartesian or nested-loop join") {
    val df = graft.query.Search.topK(spark, dir, Seq("w0", "w1"), "or", 10)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pathological join in search plan:\n$plan")
  }

  test("filtered search: docs scan is column-pruned and pushes the predicate") {
    // the allow-list side of Search.topK(docFilter): must read only
    // (slice, doc_id, lang) — never text/url — and push lang to parquet
    val df = spark.read.parquet(s"$dir/docs")
      .where(col("lang") === "ru")
      .select(col("slice"), col("doc_id"))
    val plan = executedPlan(df)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!readSchema.contains("text") && !readSchema.contains("url"),
      s"filter scan reads too much: $readSchema")
    val pushed = "PushedFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("lang"), s"lang filter not pushed down: $pushed")
  }

  test("sidecar-filtered search: NO docs-table exchange — plan identical to unfiltered") {
    // the scale contract of the attribute sidecar: a typed filter adds
    // ZERO plan surface — no docs scan, no extra exchange; the predicate
    // is evaluated inside the WAND task from the slice's sidecar file
    val unfiltered = graft.query.Search.topK(spark, dir, Seq("w0", "w1"), "or", 10)
    val pu = executedPlan(unfiltered)
    def exchanges(p: String) = "Exchange".r.findAllIn(p).size
    def scans(p: String) = "Scan parquet".r.findAllIn(p).size
    // every DECLARED field — default (lang) or custom keyword (host) or
    // numeric range (doc_len) or a bool combination — keeps plan identity
    val preds = Seq(
      "lang kw" -> graft.index.AttrPred.lang("ru"),
      "custom kw (host)" -> graft.index.AttrPred.KeyIn("host", Set("site3.example", "site7.example")),
      "num range (doc_len)" -> graft.index.AttrPred.NumRange("doc_len", 10, 120),
      "bool combo" -> graft.index.AttrPred.And(Seq(
        graft.index.AttrPred.KeyIn("host", Set("site3.example")),
        graft.index.AttrPred.NumRange("warc_ts", 0L, Long.MaxValue))))
    preds.foreach { case (label, pred) =>
      val pf = executedPlan(graft.query.Search.topK(
        spark, dir, Seq("w0", "w1"), "or", 10, attrFilter = pred))
      assert(!pf.contains("/docs"), s"[$label] filtered plan scans the docs table:\n$pf")
      assert(exchanges(pf) == exchanges(pu),
        s"[$label] filtered plan has extra exchanges: ${exchanges(pf)} vs ${exchanges(pu)}")
      assert(scans(pf) == scans(pu),
        s"[$label] filtered plan has extra scans: ${scans(pf)} vs ${scans(pu)}")
    }
  }

  test("facet aggregation: postings-only scan, doc values from the sidecar, one tiny agg exchange") {
    // the aggregation phase must not scan the docs table at all — every
    // matched doc's (lang, warc_ts) comes from the slice sidecar file;
    // only per-bucket partial counts are exchanged
    val hist = graft.query.Facets.dateHistogram(spark, dir, Seq("w0", "w1"), "or", "month")
    val plan = executedPlan(hist)
    assert(!plan.contains("/docs"), s"facet plan scans the docs table:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      "facet postings scan must push the term predicate")
  }

  test("IVF probe scan prunes list partitions (PartitionFilters on list)") {
    import spark.implicits._
    val data = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d) % 13 - 6).toFloat))
    }
    val corpus = spark.createDataFrame(data).toDF("id", "vec")
    val idxDir = Files.createTempDirectory("graft-ivf-plan").toString
    graft.operators.Ann.ivfBuild(corpus, "id", "vec", idxDir, nLists = 4)
    val probe = spark.read.option("basePath", s"$idxDir/lists")
      .parquet(s"$idxDir/lists").where(col("list").isin(0, 1))
    val plan = executedPlan(probe)
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*list".r.findFirstIn(plan).isDefined,
      s"list not a partition filter:\n$plan")
  }

  test("gate q_dict_join uses broadcast hash join end-to-end") {
    val df = SparkEntry.queries("q_dict_join")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"q_dict_join not broadcast:\n$plan")
  }

  test("batchTopK: N queries share ONE postings scan and one shuffle") {
    val df = graft.query.Search.batchTopK(spark, dir, Seq(
      (1L, Seq("w1", "w2"), "or"), (2L, Seq("w2", "w3"), "and"), (3L, Seq("w0"), "or")), 5)
    val plan = executedPlan(df)
    val postingsScans = "Scan parquet".r.findAllIn(plan).size
    assert(postingsScans == 1, s"batch must scan postings once for all queries:\n$plan")
    // exchanges: slice grouping + the per-qid window — nothing per-query
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"batch shuffles must not scale with query count:\n$plan")
  }

  test("query_string tree eval: equi-joins only, term predicates pushed") {
    val df = graft.query.QueryString.topK(spark, dir, "(w1 AND w2) OR (w3 AND -w4)", 10)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"query_string plan has a non-equi join:\n$plan")
    assert("PushedFilters: [^\\n]*term".r.findFirstIn(plan).isDefined,
      "leaf walks must push term predicates to the postings scan")
    // the whole tree is one walk: the postings exchange by (segment,
    // slice), no doc_id join
    def exchanges(p: String) = "Exchange".r.findAllIn(p).size
    assert(!plan.contains("Join"), s"query_string tree plan joins:\n$plan")
    assert(exchanges(plan) == 1, s"query_string tree plan needs one postings exchange:\n$plan")
    // filter pushdown: an AND-reachable attr filter rides the sidecar
    // cursor, so the plan scans no docs table and adds no exchange vs
    // the unfiltered tree
    val filtered = graft.query.QueryString.topK(spark, dir,
      "lang:ru AND ((w1 AND w2) OR (w3 AND -w4))", 10)
    assert(exchanges(executedPlan(filtered)) == exchanges(plan),
      "sidecar filter must not add exchanges to the query_string tree")
    // a tree of filters alone has no terms to scan: its tasks walk the
    // (segment, slice) list, with no postings scan and no exchange
    val pure = executedPlan(graft.query.QueryString.topK(spark, dir, "lang:ru AND doc_len:>50", 10))
    assert(exchanges(pure) == 0 && !pure.contains("Scan parquet"),
      s"a pure-filter query_string tree scans or shuffles:\n$pure")
  }

  test("percolate is a pure map: zero exchanges, zero joins") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"w$i common")).toDF("doc_id", "text")
    val out = graft.operators.Percolate.percolate(docs, "doc_id", "text",
      Seq(graft.operators.Percolate.Query(1L, Seq("common", "w3"), "and", 1)))
    val plan = executedPlan(out)
    assert(!plan.contains("Exchange"), s"percolate must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"percolate must not join:\n$plan")
  }

  test("decontaminate and chunkDedup shuffle only bare hashes (equi-joins, no strings)") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"w$i w${i + 1} w${i + 2} w${i + 3}")).toDF("doc_id", "text")
    val dec = graft.operators.Decontaminate.ngramOverlap(
      docs.where($"doc_id" % 2 === 0), docs.where($"doc_id" % 2 === 1), "doc_id", "text", 3)
    val decPlan = executedPlan(dec)
    assert(!decPlan.contains("CartesianProduct") && !decPlan.contains("BroadcastNestedLoop"),
      s"decontaminate non-equi join:\n$decPlan")
    // the join key must be the xxhash64 column, not the n-gram string
    assert("hashpartitioning\\(gh".r.findFirstIn(decPlan.toLowerCase).isDefined ||
      decPlan.contains("[gh"), s"decontaminate must join on the hash column:\n$decPlan")

    val cd = graft.operators.Dedup.chunkDedup(docs, "doc_id", "text", 2)
    val cdPlan = executedPlan(cd)
    assert(!cdPlan.contains("CartesianProduct") && !cdPlan.contains("BroadcastNestedLoop"),
      s"chunkDedup non-equi join:\n$cdPlan")
  }
}
