package graft

import java.nio.file.Files
import org.apache.hadoop.fs.FileAlreadyExistsException
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, SegmentFamily, SegmentMerge, Tombstones, TimeBuckets}
import graft.index.IndexBuilder.BuildConfig
import graft.query.MultiSearcher
import graft.sources.{Fsx, PagesGen}

/** The control plane on the commit log: crash points of tombstone
  * publishes, compactions, merges and purges (a reader sees the old state
  * or the new one, the next writer succeeds, earlier deletes stay
  * excluded, a resumed rewrite equals an uninterrupted one), writers that
  * start from one version (the second fails and names the directory),
  * legacy control files, and byte-identical logs across parallelism.
  */
class CommitLogSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = BuildConfig(nPartitions = 2, nGroups = 1, nSlices = 2, blockSize = 32)

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  private def build(dir: String, from: Long, until: Long, c: BuildConfig = cfg): String = {
    IndexBuilder.build(spark, spark.range(from, until, 1, 2).map(PagesGen.pageFor(_)), dir, c)
    dir
  }

  /** Live global ids of the docs holding the hot term w0. */
  private def hits(dirs: Seq[String]): Set[Long] =
    new MultiSearcher(spark, dirs).topK(Seq("w0"), "or", 100000).collect().map(_.getLong(0)).toSet

  /** Runs `body` with `act` hooked, once, at `step` of the first commit to
    * `dir`'s own log.
    */
  private def at[T](dir: String, step: String)(act: => Unit)(body: => T): T = {
    var fired = false
    Fsx.onCommitStep = (s, path) =>
      if (!fired && s == step && path.startsWith(s"$dir/_log/")) { fired = true; act }
    try body
    finally {
      Fsx.onCommitStep = (_, _) => ()
      assert(fired, s"no commit to $dir reached $step")
    }
  }

  private def crashAt(dir: String, step: String)(body: => Any): Unit =
    intercept[IllegalStateException](at(dir, step)(throw new IllegalStateException(s"crash at $step"))(body))

  test("tombstone publish crash points: readers see the old or the new generation, earlier deletes stay") {
    val d = build(tmp("graft-log-tomb") + "/idx", 0, 200)
    val ids = hits(Seq(d)).toSeq.sorted
    assert(Tombstones.delete(spark, d, col("doc_id") === ids(0)) == 1L)
    // temp commit written / generation renamed in, not committed / committed, not pruned
    Seq("written" -> false, "before" -> false, "renamed" -> true).zipWithIndex.foreach { case ((step, lands), i) =>
      val before = hits(Seq(d))
      val victim = ids(i + 1)
      crashAt(d, step)(Tombstones.delete(spark, d, col("doc_id") === victim))
      assert(hits(Seq(d)) == (if (lands) before - victim else before), step)
      assert(Tombstones.count(d) == (if (lands) i + 2 else i + 1), step)
      // the next writer succeeds
      assert(Tombstones.delete(spark, d, col("doc_id") === victim) == i + 2, step)
      assert(hits(Seq(d)) == before - victim && !hits(Seq(d)).contains(ids(0)), step)
    }
    val prevGen = Tombstones.current(d).get._1
    assert(Tombstones.delete(spark, d, col("doc_id") === ids(4)) == 5L)
    assert(hits(Seq(d)) == ids.toSet -- ids.take(5))
    assert(Fsx.listNames(s"$d/tombstones").filter(_.startsWith("gen-")).toSet ==
      Set(prevGen, Tombstones.current(d).get._1).map(g => s"gen-$g"),
      "crashed writers' generations are reclaimed; the previous live one stays")
  }

  test("a reader's tombstone generation outlives one more delete, then reading it fails loudly") {
    val d = build(tmp("graft-log-handle") + "/idx", 0, 200)
    val ids = hits(Seq(d)).toSeq.sorted
    Tombstones.delete(spark, d, col("doc_id") === ids(0))
    val h = Tombstones.handle(d) // resolved by a query that has not read its slices yet
    val slice = IndexBuilder.readDocsTable(spark, d).where(col("doc_id") === ids(0))
      .select("slice").head().getInt(0)
    Tombstones.delete(spark, d, col("doc_id") === ids(1))
    assert(Tombstones.readSlice(d, h.gen, slice).toSeq == Seq(ids(0)), "the handle still reads its ids")
    Tombstones.delete(spark, d, col("doc_id") === ids(2))
    val e = intercept[java.io.FileNotFoundException](Tombstones.readSlice(d, h.gen, slice))
    assert(e.getMessage.contains(d) && e.getMessage.contains(s"generation ${h.gen}"), e.getMessage)
  }

  /** Everything a rewrite writes, comparable by value: postings, docs,
    * stats, terms, the live tombstone ids and the log's latest state.
    */
  private def contents(dir: String): Seq[Any] = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }.toString).sorted.toSeq
    val nSlices = IndexBuilder.readMeta(dir).nSlices
    Seq(
      rows(IndexBuilder.readPostings(spark, dir)),
      rows(IndexBuilder.readDocsTable(spark, dir)),
      Fsx.readUtf8(s"$dir/stats.json"),
      rows(IndexBuilder.readTerms(spark, dir).toDF()),
      Tombstones.current(dir).map { case (g, n) => (n, (0 until nSlices).map(Tombstones.readSlice(dir, g, _).toSeq)) },
      Fsx.latest(dir).state.toString)
  }

  /** Runs `write` into `dir` with a crash right after the commit of its
    * unit grp-0 lands.
    */
  private def crashAfterGrp0(dir: String)(write: => Unit): Unit = {
    var fired = false
    Fsx.onCommitStep = (s, path) =>
      if (!fired && s == "renamed" && path.startsWith(s"$dir/_log/") &&
          IndexBuilder.completedUnits(dir).contains("grp-0")) {
        fired = true
        throw new IllegalStateException("crash after grp-0")
      }
    try intercept[IllegalStateException](write)
    finally Fsx.onCommitStep = (_, _) => ()
    assert(fired && !IndexBuilder.completedUnits(dir).contains("grp-1"))
  }

  test("merge and purge crashed after grp-0 resume to the uninterrupted output, with no staged tables") {
    val base = tmp("graft-log-rewrite")
    val c = cfg.copy(nPartitions = 4, nGroups = 2, nSlices = 4)
    val a = build(s"$base/a", 0, 150, c)
    val b = build(s"$base/b", 150, 300, c)
    Seq(a, b).foreach(d => Tombstones.delete(spark, d, col("lang") === "de"))
    def merge(out: String) = SegmentMerge.merge(spark, a, b, out, c)
    def purge(out: String) = Tombstones.purge(spark, a, out)
    Seq("merge" -> (merge _), "purge" -> (purge _)).foreach { case (name, write) =>
      write(s"$base/$name-whole")
      crashAfterGrp0(s"$base/$name-resumed")(write(s"$base/$name-resumed"))
      write(s"$base/$name-resumed")
      assert(contents(s"$base/$name-resumed") == contents(s"$base/$name-whole"), name)
      Seq("whole", "resumed").foreach { run =>
        val names = Fsx.listNames(s"$base/$name-$run")
        assert(!names.contains("staged") && !names.contains("docs_remap"), s"$name-$run: $names")
      }
    }
    assert(Tombstones.count(s"$base/merge-whole") == Seq(a, b).map(Tombstones.count).sum)
    assert(Tombstones.current(s"$base/purge-whole").isEmpty)
    // a purge resumed after its source gained deletes fails instead of
    // mixing two id maps
    crashAfterGrp0(s"$base/purge-stale")(purge(s"$base/purge-stale"))
    val deleted = Tombstones.count(a)
    assert(Tombstones.delete(spark, a, col("lang") =!= "de" && col("doc_id") < 20) > deleted)
    val e = intercept[IllegalStateException](purge(s"$base/purge-stale"))
    assert(e.getMessage.contains(a), e.getMessage)
  }

  test("a merged segment written but not committed: the family reads as before, the next compaction keeps every delete") {
    val root = tmp("graft-log-fam")
    val a = build(s"$root/seg-a", 0, 100)
    val b = build(s"$root/seg-b", 100, 200)
    SegmentFamily.append(spark, root, a)
    SegmentFamily.append(spark, root, b)
    val nA = IndexBuilder.readStats(spark, a).n_docs
    val (inA, inB) = hits(Seq(a, b)).toSeq.sorted.partition(_ < nA)
    Tombstones.delete(spark, a, col("doc_id") === inA.head)
    val before = hits(Seq(a, b))
    crashAt(root, "before")(SegmentFamily.maybeCompact(spark, root, mergeFactor = 2))
    assert(Fsx.exists(s"$root/gen-1"), "the crashed merge's output stays behind")
    assert(SegmentFamily.read(root).map(_.dir) == Seq(a, b), "the family reads as before the crash")
    assert(hits(SegmentFamily.read(root).map(_.dir)) == before)
    // a delete made after the crash must survive the next compaction too
    Tombstones.delete(spark, b, col("doc_id") === inB.head - nA)
    SegmentFamily.maybeCompact(spark, root, mergeFactor = 2)
    val after = SegmentFamily.read(root).map(_.dir)
    assert(after == Seq(s"$root/gen-1"))
    assert(hits(after) == before - inB.head, "deletes from before and after the crash are excluded")
  }

  test("two writers from one family version: the second throws and names the root") {
    val root = tmp("graft-log-race")
    val Seq(a, b, c) = Seq(0L, 60L, 120L).map(i => build(s"$root/seg-$i", i, i + 60))
    SegmentFamily.append(spark, root, a)
    SegmentFamily.append(spark, root, b)
    // the compaction read [a, b]; another writer appends c before it commits
    val e = intercept[FileAlreadyExistsException](
      at(root, "before")(SegmentFamily.append(spark, root, c))(SegmentFamily.maybeCompact(spark, root, mergeFactor = 2)))
    assert(e.getMessage.contains(root), e.getMessage)
    assert(SegmentFamily.read(root).map(_.dir) == Seq(a, b, c), "the other writer's segment is not lost")
  }

  test("two tombstone publishes on one index: the second throws and names the index") {
    val d = build(tmp("graft-log-trace") + "/idx", 0, 120)
    val ids = hits(Seq(d)).toSeq.sorted
    val e = intercept[FileAlreadyExistsException](
      at(d, "before")(Tombstones.delete(spark, d, col("doc_id") === ids(1)))(
        Tombstones.delete(spark, d, col("doc_id") === ids(0))))
    assert(e.getMessage.contains(d), e.getMessage)
    assert(Tombstones.count(d) == 1L && hits(Seq(d)) == ids.toSet - ids(1), "the first publish stands whole")
    assert(Tombstones.delete(spark, d, col("doc_id") === ids(0)) == 2L, "the second writer retries")
    assert(hits(Seq(d)) == ids.toSet - ids(0) - ids(1))
  }

  test("legacy control files fail loudly through every module that reads them") {
    val d = tmp("graft-log-legacy")
    def legacy(file: String)(read: String => Any): Unit = {
      val dir = s"$d/${file.replace('/', '_')}"
      Fsx.writeUtf8(s"$dir/$file", "legacy")
      val e = intercept[java.io.IOException](read(dir))
      assert(e.getMessage.contains(s"$dir/$file"), e.getMessage)
    }
    legacy("segments.json")(SegmentFamily.read)
    legacy("buckets.json")(TimeBuckets.readManifest)
    legacy("tombstones/CURRENT")(Tombstones.count)
    legacy("checkpoints.jsonl")(IndexBuilder.completedUnits)
  }

  test("the same build and delete at different parallelism leave byte-identical logs") {
    val base = tmp("graft-log-det")
    val logs = Seq(2, 4).map { p =>
      val d = build(s"$base/p$p", 0, 300, cfg.copy(nPartitions = p))
      Tombstones.delete(spark, d, col("lang") === "de")
      Fsx.listNames(s"$d/_log").filter(_.endsWith(".json")).sorted.map(n => n -> Fsx.readUtf8(s"$d/_log/$n"))
    }
    assert(logs.head.nonEmpty && logs.head == logs.last, logs.toString)
  }
}
