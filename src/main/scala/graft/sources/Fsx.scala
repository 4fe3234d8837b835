package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** Control-plane filesystem shim: every manifest, checkpoint, and
  * reclamation in the engine goes through the Hadoop `FileSystem` API so
  * index DATA and index STATE live on the same filesystem — the
  * reference's key restartability invariant is "all state lives in the
  * sink, restartable from anywhere" (`ElasticSearchStorage.cs:56-93`,
  * the ES-stored `EventLogPosition`), and a `java.nio.file` control plane
  * silently breaks it the moment `indexDir` is `hdfs://…` or `s3a://…`
  * (data lands remotely, the first manifest write fails — or worse,
  * `java.io.File.delete` no-ops and leaks replaced segments forever).
  *
  * Portability notes baked in:
  *   - no `fs.append`: object stores and the local checksum FS reject it,
  *     so [[appendLine]] is read + rewrite-via-rename (fine under the
  *     engine-wide single-writer contract on control files, and these
  *     files are tiny);
  *   - atomic-ish replace = write tmp + delete dst + rename (HDFS rename
  *     won't overwrite); readers therefore treat a briefly-missing
  *     control file as "empty", never as corruption;
  *   - [[conf]] resolves the process classpath's defaultFS, on the
  *     driver and on executors alike, so `file://` paths behave
  *     identically to bare local paths in tests.
  */
object Fsx {

  /** The process classpath's Hadoop configuration, one per JVM: each new
    * `Configuration` re-parses the Hadoop XML defaults on first use
    * (~10 ms), which made every control-file call and every sidecar or
    * tombstone open pay that parse again.
    */
  lazy val conf: Configuration = new Configuration()

  def fs(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = {
    val (f, p) = fs(path)
    f.exists(p)
  }

  def mkdirs(path: String): Unit = {
    val (f, p) = fs(path)
    f.mkdirs(p)
  }

  /** Recursive delete; returns whether the path is gone afterwards.
    * Replaces `FileUtils.deleteQuietly(new java.io.File(...))`, which on
    * HDFS/S3 silently no-ops (the space-leak class from ADVICE r3).
    */
  def delete(path: String): Boolean = {
    val (f, p) = fs(path)
    !f.exists(p) || f.delete(p, true)
  }

  def readUtf8Opt(path: String): Option[String] = {
    val (f, p) = fs(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  def readUtf8(path: String): String =
    readUtf8Opt(path).getOrElse(throw new java.io.FileNotFoundException(path))

  /** Plain (non-atomic) create-or-overwrite — for files whose readers
    * tolerate torn writes or that are written once before any reader
    * exists (e.g. meta.json inside a not-yet-committed index dir).
    */
  def writeUtf8(path: String, content: String): Unit = {
    val (f, p) = fs(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Replace-via-rename: readers see the old content or the new, never a
    * torn file and never a missing one. The primary path is
    * `FileContext.rename(OVERWRITE)`, which is atomic on HDFS and the
    * local FS — a concurrent reader (the documented single-writer /
    * many-reader contract) can never observe the manifest absent, and a
    * crash cannot lose it. Only stores without atomic rename (some object
    * stores expose no `AbstractFileSystem`) fall back to delete+rename,
    * where readers must treat a briefly-missing control file as "retry
    * once, then empty".
    */
  def writeUtf8Atomic(path: String, content: String): Unit = {
    val (f, p) = fs(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    try {
      val fc = FileContext.getFileContext(p.toUri, conf)
      fc.rename(tmp, p, Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.FileNotFoundException =>
        // No AbstractFileSystem for this scheme — non-atomic fallback.
        f.delete(p, false)
        require(f.rename(tmp, p), s"atomic replace failed: $path")
    }
  }

  /** Schemes where `fs.append` threw UnsupportedOperationException — skip
    * the attempt on subsequent calls instead of paying an exception each
    * time (object stores, checksum FS variants without append).
    */
  private val noAppendSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Append one line (adds the trailing '\n') to a journal file. True
    * `fs.append` where the store supports it — O(line) per commit and a
    * crash can lose at most the line being written, never prior history.
    * Stores without append (object stores) fall back to read + atomic
    * rewrite; the rewrite itself is crash-safe via [[writeUtf8Atomic]].
    * Single-writer per file, as everywhere in the control plane.
    */
  def appendLine(path: String, line: String): Unit = {
    val (f, p) = fs(path)
    val scheme = Option(p.toUri.getScheme).getOrElse(f.getScheme)
    val bytes = (line + "\n").getBytes(StandardCharsets.UTF_8)
    if (!noAppendSchemes.contains(scheme) && f.exists(p)) {
      try {
        val out = f.append(p)
        try out.write(bytes)
        finally out.close()
        return
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          noAppendSchemes.add(scheme)
      }
    }
    val prev = readUtf8Opt(path).getOrElse("")
    writeUtf8Atomic(path, prev + line + "\n")
  }

  /** Non-recursive child names (empty for a missing dir). */
  /** Recursive tree copy via Hadoop FileUtil — works across schemes
    * (local → HDFS, HDFS → s3a…). Fails loudly on partial copies.
    */
  def copyTree(src: String, dst: String): Unit = {
    val (sfs, sp) = fs(src)
    val (dfs, dp) = fs(dst)
    require(sfs.exists(sp), s"copyTree source missing: $src")
    val ok = org.apache.hadoop.fs.FileUtil.copy(
      sfs, sp, dfs, dp, /*deleteSource=*/ false, /*overwrite=*/ true, sfs.getConf)
    require(ok, s"copyTree failed: $src -> $dst")
  }

  def listNames(path: String): Seq[String] = {
    val (f, p) = fs(path)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Child names that are directories (empty for a missing dir). */
  def listDirNames(path: String): Seq[String] = {
    val (f, p) = fs(path)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }
}
