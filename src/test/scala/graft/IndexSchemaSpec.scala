package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.index.{IndexBuilder, SegmentMerge, Tombstones}
import graft.index.IndexBuilder.BuildConfig
import graft.sources.{HtmlText, PagesGen}
import graft.streaming.StreamingIngest

/** Index tables are read with the schemas declared in [[IndexBuilder]]
  * (no inference job per read), so every writer must put exactly those
  * columns on disk: a writer that adds, drops, reorders or retypes a
  * `terms`/`postings` column, or drops or retypes a core `docs` column,
  * fails here.
  */
class IndexSchemaSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = BuildConfig(nPartitions = 4, nGroups = 2, nSlices = 4, blockSize = 16)

  private def pages(prefix: String, from: Long, until: Long) =
    spark.range(from, until, 1, 2).map { i =>
      val text = PagesGen.textFor(i)
      val url = f"$prefix/$i%08d"
      Page(url, new java.sql.Timestamp(1609459200000L + i * 1000L), HtmlText.wrap(url, text), text, "en")
    }

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def build(prefix: String, from: Long, until: Long, c: BuildConfig = cfg): String = {
    val dir = tmp(s"schema-$prefix")
    IndexBuilder.build(spark, pages(prefix, from, until), dir, c)
    dir
  }

  private lazy val segA = build("a", 0, 80)
  private lazy val segB = build("b", 80, 140)

  /** The schema parquet infers from the files, as a pre-v4 reader sees it. */
  private def onDisk(dir: String, table: String): StructType =
    spark.read.option("basePath", s"$dir/$table").parquet(s"$dir/$table").schema

  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  private def assertDeclared(writer: String, dir: String): Unit = {
    assert(IndexBuilder.readFormatVersion(dir) == IndexBuilder.FormatVersion, s"$writer: format stamp")
    assert(shape(onDisk(dir, "terms")) == shape(IndexBuilder.TermsSchema), s"$writer: terms")
    assert(shape(onDisk(dir, "postings")) == shape(IndexBuilder.PostingsSchema), s"$writer: postings")
    // docs may carry `text` on top of the core; the core columns must all
    // be there, typed as declared and in declared order
    val docs = shape(onDisk(dir, "docs"))
    val core = shape(IndexBuilder.DocsSchema)
    assert(docs.filter(c => core.exists(_._1 == c._1)) == core, s"$writer: docs core $docs")
  }

  test("IndexBuilder.build with positions writes the declared schemas") {
    assertDeclared("build", segA)
    assert(shape(onDisk(segA, "docs")).map(_._1).contains("text"))
  }

  test("IndexBuilder.build without positions writes the declared schemas") {
    assertDeclared("build(positions = false)", build("np", 0, 60, cfg.copy(positions = false)))
  }

  test("SegmentMerge.merge writes the declared schemas") {
    val out = tmp("schema-merge")
    SegmentMerge.merge(spark, segA, segB, out, cfg)
    assertDeclared("merge", out)
    // merged docs have no `text`: a text read fails loudly, never nulls
    intercept[AnalysisException](
      IndexBuilder.readDocsTable(spark, out, withText = true).select("text"))
  }

  test("SegmentMerge.fastMerge writes the declared schemas") {
    val out = tmp("schema-fast")
    SegmentMerge.fastMerge(spark, Seq(segA, segB), out)
    assertDeclared("fastMerge", out)
  }

  test("Tombstones.purge writes the declared schemas") {
    val src = build("p", 0, 60)
    Tombstones.delete(spark, src, col("doc_id") < 5)
    val out = tmp("schema-purge")
    Tombstones.purge(spark, src, out)
    assertDeclared("purge", out)
  }

  test("a streaming segment has the declared schemas") {
    val in = tmp("schema-stream-in")
    val idx = tmp("schema-stream-idx")
    pages("s", 0, 60).coalesce(1).write.mode("overwrite").parquet(in)
    StreamingIngest.start(spark, in, idx, tmp("schema-stream-ckpt"),
      BuildConfig(nPartitions = 2, nGroups = 1, nSlices = 2, blockSize = 16)).awaitTermination()
    val segs = new java.io.File(idx).list().filter(_.startsWith("segment-"))
    assert(segs.nonEmpty)
    segs.foreach(s => assertDeclared(s"stream $s", s"$idx/$s"))
  }

  test("an index below the current format keeps the inferring read: a missing column fails") {
    val dir = tmp("schema-old")
    Seq(("w0", 3L)).toDF("term", "doc_freq").write.parquet(s"$dir/terms")
    graft.sources.Fsx.writeUtf8(s"$dir/meta.json", s"""{"format":${IndexBuilder.FormatVersion - 1}}""")
    intercept[AnalysisException](IndexBuilder.readTerms(spark, dir))
    // the same files under the current stamp would read total_tf as null —
    // the reason the declared read is gated on the stamp
    graft.sources.Fsx.writeUtf8(s"$dir/meta.json", s"""{"format":${IndexBuilder.FormatVersion}}""")
    assert(IndexBuilder.readTerms(spark, dir).toDF().where(col("total_tf").isNull).count() == 1)
  }
}
