package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without a child process per call.
  *
  * Hadoop's `RawLocalFileSystem` falls back to the shell when
  * `libhadoop` is not loaded, and Spark's binary distribution ships
  * none: every file or directory it creates runs `chmod`
  * (`setPermission`), and every path `FileContext.rename` checks runs
  * `readlink` (`getFileLinkStatus`). A streaming micro-batch commits its
  * offset, commit and state-store files through that rename, and a
  * Parquet write creates its staging directories and files, so the
  * process starts were most of the per-batch and per-stage fixed cost.
  *
  * These classes keep the stock behaviour and do the same two calls in
  * the JVM. `src/main/resources/core-site.xml` binds them to both Hadoop
  * APIs (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`), so every
  * session built from this classpath picks them up; a `core-site.xml`
  * earlier on the classpath replaces that binding. */
class NioRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  /** The stock call runs `chmod %04o` on the canonical path; this sets
    * the same mode bits, sticky bit included, on the file the path
    * resolves to. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Int.box(permission.toShort & 0xfff))

  /** The stock call asks `readlink` first; when it prints nothing, the
    * result is `getFileStatus(f)` (which throws `FileNotFoundException`
    * for a missing path). A symlink, dangling or not, keeps the stock
    * path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` over [[NioRawLocalFileSystem]] (what
  * `FileSystem.get(file:///)` and `FileSystem.getLocal` return). */
class NioLocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` binding of [[NioRawLocalFileSystem]]; the overrides are
  * those of Hadoop's `org.apache.hadoop.fs.local.RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("the path-less form", "Hadoop 2")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` filesystem over [[NioRawLocalFs]] (what
  * streaming checkpoints and state stores commit through), as Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs`. `AbstractFileSystem` constructs
  * it by reflection through this `(URI, Configuration)` signature; the
  * URI is always the local one. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
