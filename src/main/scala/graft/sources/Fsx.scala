package graft.sources

import java.nio.charset.StandardCharsets
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

/** Control-plane filesystem shim: every manifest, checkpoint, and
  * reclamation in the engine goes through the Hadoop `FileSystem` API so
  * index DATA and index STATE live on the same filesystem — the
  * reference's restartability invariant, "all state lives in the sink"
  * (`ElasticSearchStorage.cs:56-93`), holds at `hdfs://…` or `s3a://…`.
  *
  * Every mutable control state (a family's segments or buckets, an
  * index's build checkpoints and live tombstone generation) is the latest
  * commit of its directory's log, `_log/<n>.json`: the whole state, its
  * number and a CRC. Commit n+1 is computed from commit n and renamed to
  * its number WITHOUT overwrite ([[createOnce]]), so readers see commit n
  * or n+1, never a torn or missing state, and the single-writer contract
  * is enforced: a second writer from the same commit finds its number
  * taken and fails, naming the directory. Commits older than the one
  * before the newest are pruned. Commits hold no timestamps or hostnames.
  * On the local FS a file is published with `link(2)`, which fails
  * atomically when the name is taken, so two racing writers cannot both
  * win. Elsewhere the no-overwrite rename checks, then renames: HDFS
  * refuses a rename onto an existing file itself, while on stores whose
  * rename overwrites, two writers racing inside that window are not
  * caught.
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
    try {
      val in = f.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  def readUtf8(path: String): String =
    readUtf8Opt(path).getOrElse(throw new java.io.FileNotFoundException(path))

  /** Plain (non-atomic) create-or-overwrite — for files written once
    * before any reader exists (e.g. meta.json inside a not-yet-committed
    * index dir).
    */
  def writeUtf8(path: String, content: String): Unit = {
    val (f, p) = fs(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Rename `src` (a file or a directory) to `dst` unless `dst` exists:
    * then it throws `FileAlreadyExistsException` naming `dst`. Not
    * `FileContext.rename(NONE)`: on the local FS that forks a `stat`
    * process per call (~30 ms against ~0.1 ms on a 4-core VM).
    */
  def renameNew(src: String, dst: String): Unit = {
    val (f, d) = fs(dst)
    if (f.exists(d) || !f.rename(new Path(src), d))
      throw (if (f.exists(d)) new FileAlreadyExistsException(s"rename destination $dst already exists")
             else new java.io.IOException(s"rename $src -> $dst failed"))
  }

  /** Publish `content` at `path` unless something is there (then throws
    * as [[renameNew]]): a temp file beside it, moved into place, so a
    * reader sees no file or the whole file. On the local FS the move is a
    * hard link, which fails atomically on a taken name (a rename there
    * would replace a racing writer's file), and the temp file and its
    * `.crc` are deleted after it; elsewhere it is [[renameNew]].
    */
  def createOnce(path: String, content: String): Unit = {
    val (f, p) = fs(path)
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = f.create(tmp, false)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    onCommitStep("written", path)
    try {
      if (f.getUri.getScheme == "file") {
        def local(q: Path) = java.nio.file.Paths.get(f.makeQualified(q).toUri)
        try java.nio.file.Files.createLink(local(p), local(tmp))
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"destination $path already exists")
        }
        f.delete(tmp, false)
      } else renameNew(tmp.toString, path)
    } catch { case e: java.io.IOException => f.delete(tmp, false); throw e }
  }

  // ---- commit log -------------------------------------------------------

  /** Commit `version` of `dir`'s log and the whole state it holds
    * (version 0, empty state: no log).
    */
  final case class Commit(dir: String, version: Long, state: ObjectNode)

  private val mapper = new ObjectMapper()
  private val CommitName = """(\d+)\.json""".r
  private val TmpName = """\.(\d+)\.json\..*\.tmp""".r
  private val LegacyFiles = Seq("segments.json", "buckets.json", "tombstones/CURRENT", "checkpoints.jsonl")

  /** Test hook, called with a step and the path published or read:
    * "before" (nothing written) and "renamed" (older commits not pruned)
    * in [[commit]], "written" (temp file not renamed) in [[createOnce]],
    * "listed" (newest commit chosen, not read) in [[latest]].
    */
  @volatile private[graft] var onCommitStep: (String, String) => Unit = (_, _) => ()

  private def logDir(dir: String) = s"$dir/_log"
  private def commitPath(dir: String, v: Long) = s"${logDir(dir)}/$v.json"

  private def crcOf(state: String): String = {
    val c = new java.util.zip.CRC32()
    c.update(state.getBytes(StandardCharsets.UTF_8))
    java.lang.Long.toHexString(c.getValue)
  }

  /** The latest commit of `dir`'s log. Throws when a commit's JSON,
    * number or CRC does not check out, and when the directory has no log
    * but a control file of the layout before it (reading that as "no
    * state" would lose the state silently).
    */
  def latest(dir: String): Commit = {
    val versions = listNames(logDir(dir)).collect { case CommitName(v) => v.toLong }
    if (versions.isEmpty) {
      LegacyFiles.find(f => exists(s"$dir/$f")).foreach(f => throw new java.io.IOException(
        s"$dir/$f: control file of the layout before the commit log (_log/); rebuild this directory"))
      Commit(dir, 0L, mapper.createObjectNode())
    } else {
      val path = commitPath(dir, versions.max)
      onCommitStep("listed", path)
      readUtf8Opt(path) match {
        case None => latest(dir) // pruned after the listing: a newer commit exists
        case Some(s) =>
          val node = scala.util.Try(mapper.readTree(s)).getOrElse(mapper.missingNode())
          val state = node.path("state")
          if (!state.isObject || node.path("version").asLong(-1L) != versions.max ||
              node.path("crc").asText() != crcOf(mapper.writeValueAsString(state)))
            throw new java.io.IOException(s"corrupt commit $path: JSON, version or CRC mismatch")
          Commit(dir, versions.max, state.asInstanceOf[ObjectNode])
      }
    }
  }

  /** Commit `base.version + 1`: a copy of `base.state` changed by `edit`.
    * Throws `FileAlreadyExistsException` naming the directory when that
    * number is taken — another writer committed since `base` was read.
    */
  def commit(base: Commit)(edit: ObjectNode => Unit): Commit = {
    val state = base.state.deepCopy()
    edit(state)
    val v = base.version + 1
    val doc = mapper.createObjectNode().put("version", v)
      .set[ObjectNode]("state", state).put("crc", crcOf(mapper.writeValueAsString(state)))
    val path = commitPath(base.dir, v)
    onCommitStep("before", path)
    try createOnce(path, mapper.writeValueAsString(doc))
    catch {
      case e: FileAlreadyExistsException => throw new FileAlreadyExistsException(
        s"${base.dir}: commit $v exists; another writer committed after version ${base.version} was read")
    }
    onCommitStep("renamed", path)
    // keep this commit and the one before it; temp files of numbers up to
    // this one can never be renamed into place any more
    listNames(logDir(base.dir)).foreach {
      case n @ CommitName(o) if o.toLong < v - 1 => delete(s"${logDir(base.dir)}/$n")
      case n @ TmpName(o) if o.toLong <= v => delete(s"${logDir(base.dir)}/$n")
      case _ =>
    }
    Commit(base.dir, v, state)
  }

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

  /** Non-recursive child names (empty for a missing dir). */
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
