package graft.util

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local `file:` filesystem without the per-file `chmod` PROCESS FORK.
  *
  * Hadoop's `RawLocalFileSystem` applies permissions by exec'ing
  * `chmod` whenever the native `libhadoop` JNI library is absent — and it
  * is absent in plain Spark distributions like this one. Every file
  * CREATE (parquet part files, their .crc twins, streaming state-store
  * delta files, offset/commit WAL entries) then pays a process fork:
  * measured ~10–14 ms per file on this host (100 Hadoop creates 1.4–1.6 s
  * vs 0.3 s for raw java.io — see OPTIMIZATION_r19.md §streaming), which
  * dominates tiny-file paths like streaming checkpoints (~100 creates per
  * stateful micro-batch across store instances).
  *
  * No production deployment pays this cost: HDFS applies permissions
  * server-side, object stores have none, and clusters with `libhadoop`
  * use a native `chmod(2)` call. The fork is purely an artifact of the
  * native-IO-less local fallback, so these subclasses no-op
  * `setPermission` — file content, checksums, atomic-rename semantics and
  * every read path are stock — and are wired in via the standard
  * `fs.file.impl` / `fs.AbstractFileSystem.file.impl` configuration keys
  * (see [[LocalFsNoShell.confEntries]]). Results are unaffected: only the
  * posix mode bits of freshly created local files differ (they keep the
  * JVM's umask default instead of being re-chmod'ed to the same value).
  */
class NoShellRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()

  /** lstat without the `readlink`/`stat` PROCESS FORK.
    *
    * Stock `RawLocalFileSystem.getFileLinkStatus` shells out per call
    * (either `FileUtil.readLink` → `readlink` or the `Stat` helper →
    * `stat`, both ~10–25 ms/fork on this host). The streaming checkpoint
    * commit path hits it on EVERY file it finalizes:
    * `AbstractFileSystem.renameInternal(src, dst, overwrite)` looks up
    * `getFileLinkStatus(dst)` before renaming, and every state-store
    * delta, offset-WAL and commit-WAL entry goes through that rename —
    * measured ~25–30 ms per state-store commit with the fork vs ~1 ms
    * without (commit 762ecac; disk vs tmpfs identical, so it was
    * never IO). Replaced with a java.nio lstat: NOFOLLOW attributes plus
    * `Files.readSymbolicLink` for links — same FileStatus contract
    * (FNF on missing, `getSymlink` set iff link, path = the link itself),
    * no subprocess anywhere.
    */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    val file = pathToFile(f)
    val nioPath = file.toPath
    val attrs =
      try java.nio.file.Files.readAttributes(nioPath,
        classOf[java.nio.file.attribute.PosixFileAttributes],
        java.nio.file.LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new java.io.FileNotFoundException(s"File $f does not exist")
      }
    import java.nio.file.attribute.PosixFilePermission._
    val ps = attrs.permissions()
    def bit(p: java.nio.file.attribute.PosixFilePermission, v: Int) =
      if (ps.contains(p)) v else 0
    val mode = bit(OWNER_READ, 0x100) | bit(OWNER_WRITE, 0x80) |
      bit(OWNER_EXECUTE, 0x40) | bit(GROUP_READ, 0x20) |
      bit(GROUP_WRITE, 0x10) | bit(GROUP_EXECUTE, 0x8) |
      bit(OTHERS_READ, 0x4) | bit(OTHERS_WRITE, 0x2) |
      bit(OTHERS_EXECUTE, 0x1)
    val symlink =
      if (attrs.isSymbolicLink)
        new Path(java.nio.file.Files.readSymbolicLink(nioPath).toString)
      else null
    new org.apache.hadoop.fs.FileStatus(attrs.size(), attrs.isDirectory,
      1, getDefaultBlockSize(f), attrs.lastModifiedTime.toMillis,
      attrs.lastAccessTime.toMillis, new FsPermission(mode.toShort),
      attrs.owner().getName, attrs.group().getName, symlink,
      makeQualified(f))
  }
}

/** `fs.file.impl` replacement: stock [[LocalFileSystem]] (checksummed)
  * over the fork-free raw FS. FileSystem.get instantiates via the no-arg
  * constructor and then calls initialize, exactly like the stock class.
  */
class NoShellLocalFileSystem
    extends LocalFileSystem(new NoShellRawLocalFileSystem)

/** The `AbstractFileSystem` (FileContext) side — what the streaming
  * checkpoint file manager resolves. Mirrors Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs`.
  */
class NoShellRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(
      uri, new NoShellRawLocalFileSystem, conf, "file", false)

/** `fs.AbstractFileSystem.file.impl` replacement: mirrors Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs` (ChecksumFs over RawLocalFs).
  */
class NoShellLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoShellRawLocalFs(uri, conf))

object LocalFsNoShell {
  /** Session-builder config entries installing the fork-free local FS. */
  val confEntries: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" ->
      classOf[NoShellLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[NoShellLocalFs].getName)
}
