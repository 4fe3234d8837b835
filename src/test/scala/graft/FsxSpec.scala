package graft

import java.nio.file.Files
import org.apache.hadoop.fs.FileAlreadyExistsException
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Fsx

/** Control-plane filesystem shim: the commit log every mutable control
  * state lives in (numbered create-if-absent commits, CRC-checked,
  * pruned to the last two), its crash points, and the listing/delete
  * helpers the engine leans on.
  */
class FsxSpec extends AnyFunSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft-fsx").toString

  private def commits(d: String): Seq[String] = Fsx.listNames(s"$d/_log").filterNot(_.endsWith(".crc")).sorted

  private def put(c: Fsx.Commit, k: String, v: Int): Fsx.Commit = Fsx.commit(c)(_.put(k, v))

  /** Runs `body` with the commit hook set to `hook` for paths under `d`. */
  private def hooked[T](d: String)(hook: String => Unit)(body: => T): T = {
    Fsx.onCommitStep = (step, path) => if (path.startsWith(d)) hook(step)
    try body finally Fsx.onCommitStep = (_, _) => ()
  }

  test("commit log: numbered commits of the whole state, pruned to the last two") {
    val d = tmp()
    assert(Fsx.latest(d).version == 0L && Fsx.latest(d).state.isEmpty, "no log reads as version 0")
    var c = Fsx.latest(d)
    (1 to 5).foreach { i =>
      c = put(c, "n", i)
      assert(c.version == i)
    }
    val got = Fsx.latest(d)
    assert(got.version == 5L && got.state.get("n").asInt == 5)
    assert(commits(d) == Seq("4.json", "5.json"), commits(d).toString)
    // the state is whole, not a delta: keys of earlier commits carry forward
    assert(put(got, "m", 1).state.get("n").asInt == 5)
  }

  test("commit log: a second writer from the same version fails and names the directory") {
    val d = tmp()
    val base = put(Fsx.latest(d), "owner", 1)
    put(base, "owner", 2)
    val e = intercept[FileAlreadyExistsException](put(base, "owner", 3))
    assert(e.getMessage.contains(d), e.getMessage)
    assert(Fsx.latest(d).state.get("owner").asInt == 2, "the first writer's commit stands")
  }

  test("commit log: a mangled or truncated commit fails its check instead of reading as state") {
    val d = tmp()
    put(Fsx.latest(d), "deleted", 17)
    val f = new java.io.File(s"$d/_log/1.json")
    val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
    def corrupt(to: String): Unit = {
      f.delete(); new java.io.File(s"$d/_log/.1.json.crc").delete()
      Files.write(f.toPath, to.getBytes("UTF-8"))
      val e = intercept[java.io.IOException](Fsx.latest(d))
      assert(e.getMessage.contains("1.json"), e.getMessage)
    }
    corrupt(text.replace("\"deleted\":17", "\"deleted\":71"))
    corrupt(text.take(text.length / 2))
  }

  test("commit log: a reader whose chosen commit is pruned lists the log again") {
    val d = tmp()
    put(Fsx.latest(d), "n", 1)
    var raced = false
    val got = hooked(d) { step =>
      if (step == "listed" && !raced) {
        raced = true
        put(put(Fsx.latest(d), "n", 2), "n", 3) // prunes the chosen commit 1
      }
    }(Fsx.latest(d))
    assert(raced && got.version == 3L && got.state.get("n").asInt == 3)
  }

  test("commit log: crash points — a reader sees the old or the new state, the next writer succeeds") {
    val d = tmp()
    put(Fsx.latest(d), "n", 1)
    // temp file written, not renamed: the log still reads commit 1
    intercept[IllegalStateException](hooked(d) { s =>
      if (s == "written") throw new IllegalStateException("crash")
    }(put(Fsx.latest(d), "n", 2)))
    assert(Fsx.latest(d).state.get("n").asInt == 1)
    assert(Fsx.listNames(s"$d/_log").exists(_.endsWith(".tmp")), "the crash leaves its temp file")
    put(put(Fsx.latest(d), "n", 2), "n", 3)
    assert(!Fsx.listNames(s"$d/_log").exists(_.endsWith(".tmp")), "a later commit prunes dead temp files")
    // commit renamed, older commits not pruned: the new state reads
    intercept[IllegalStateException](hooked(d) { s =>
      if (s == "renamed") throw new IllegalStateException("crash")
    }(put(Fsx.latest(d), "n", 4)))
    assert(Fsx.latest(d).state.get("n").asInt == 4 && commits(d) == Seq("2.json", "3.json", "4.json"))
    put(Fsx.latest(d), "n", 5)
    assert(commits(d) == Seq("4.json", "5.json"))
  }

  test("legacy control files fail loudly instead of reading as empty state") {
    Seq("segments.json", "buckets.json", "tombstones/CURRENT", "checkpoints.jsonl").foreach { f =>
      val d = tmp()
      Fsx.writeUtf8(s"$d/$f", "legacy")
      val e = intercept[java.io.IOException](Fsx.latest(d))
      assert(e.getMessage.contains(s"$d/$f"), e.getMessage)
    }
  }

  test("createOnce / renameNew never overwrite") {
    val d = tmp()
    Fsx.createOnce(s"$d/m.json", "first")
    intercept[FileAlreadyExistsException](Fsx.createOnce(s"$d/m.json", "second"))
    assert(Fsx.readUtf8(s"$d/m.json") == "first")
    assert(Fsx.listNames(d).forall(n => n == "m.json" || n == ".m.json.crc"), Fsx.listNames(d).toString)
    Fsx.writeUtf8(s"$d/a/x", "a"); Fsx.writeUtf8(s"$d/b/x", "b")
    intercept[FileAlreadyExistsException](Fsx.renameNew(s"$d/a", s"$d/b"))
    assert(Fsx.readUtf8(s"$d/b/x") == "b")
    Fsx.renameNew(s"$d/a", s"$d/c")
    assert(Fsx.readUtf8(s"$d/c/x") == "a" && !Fsx.exists(s"$d/a"))
  }

  test("createOnce racing writers: exactly one wins each path, and the file holds its bytes") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    val d = tmp()
    val paths = (0 until 200).map(i => s"$d/$i.json")
    val writers = 8
    // every writer's temp file of a path is written before any of them
    // publishes it, so the publishes race
    val written = paths.map(_ -> new CyclicBarrier(writers)).toMap
    Fsx.onCommitStep = (step, path) =>
      if (step == "written") written.get(path).foreach(_.await(60, TimeUnit.SECONDS))
    val pool = Executors.newFixedThreadPool(writers)
    // won(w)(i): writer w published paths(i); every loss must be the
    // no-overwrite refusal, anything else fails the call
    val won = try {
      (0 until writers).map { w =>
        pool.submit(new Callable[Seq[Boolean]] {
          def call(): Seq[Boolean] = paths.map { p =>
            try { Fsx.createOnce(p, s"writer $w"); true }
            catch { case _: FileAlreadyExistsException => false }
          }
        })
      }.map(_.get(300, TimeUnit.SECONDS))
    } finally { pool.shutdownNow(); Fsx.onCommitStep = (_, _) => () }
    paths.indices.foreach { i =>
      val winners = (0 until writers).filter(w => won(w)(i))
      assert(winners.size == 1, s"${paths(i)} won by writers $winners")
      assert(Fsx.readUtf8(paths(i)) == s"writer ${winners.head}", paths(i))
    }
    assert(Fsx.listNames(d).sorted == paths.map(_.split('/').last).sorted, "temp files left behind")
  }

  test("delete / exists / listDirNames round trip") {
    val d = tmp()
    Fsx.mkdirs(s"$d/a/b")
    Fsx.writeUtf8(s"$d/a/x.txt", "x")
    assert(Fsx.exists(s"$d/a/b") && Fsx.exists(s"$d/a/x.txt"))
    assert(Fsx.listDirNames(s"$d/a") == Seq("b"))
    assert(Fsx.delete(s"$d/a"))
    assert(!Fsx.exists(s"$d/a"))
    assert(Fsx.delete(s"$d/a"), "deleting a missing path reports gone")
    assert(Fsx.listNames(s"$d/a").isEmpty)
  }
}
