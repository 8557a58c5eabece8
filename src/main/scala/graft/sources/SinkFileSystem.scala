package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The FileSystem the replica sinks write through.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and the local FS calls it on every file
  * create (data file and `.crc` sidecar) and every mkdir: a few ms per
  * replica file, which dominates a sink writing one small file per
  * block. For a `file:` target this returns the same checksummed
  * `LocalFileSystem`, over a raw FS that sets the same mode bits
  * in-process. Every other scheme, and a `file:` scheme whose
  * implementation was configured (`fs.file.impl`), goes through
  * `FileSystem.get` unchanged. The local FS is a fresh instance, so
  * the conf it is given (umask, checksum chunk) applies; the
  * `FileSystem.get` cache would return whichever instance the first
  * conf built. */
private[graft] object SinkFileSystem {
  def get(path: String, conf: Configuration): FileSystem = {
    val uri = URI.create(path)
    val scheme = Option(uri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file" || conf.get("fs.file.impl") != null)
      FileSystem.get(uri, conf)
    else {
      val fs = new LocalFileSystem(new InProcessChmod)
      fs.setConf(conf)
      fs.initialize(URI.create("file:///"), conf)
      fs
    }
  }

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `chmod` through `java.nio` — the mode bits Hadoop's forked
    * `chmod %04o` would set. A sticky bit has no `java.nio` form and a
    * non-POSIX store has no mode bits: both keep Hadoop's own path. */
  private final class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
  }
}
