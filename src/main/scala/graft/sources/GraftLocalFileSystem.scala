package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system under its own scheme
  * ([[GraftLocalFileSystem.Scheme]]), whose permission changes run
  * in-process. Without libhadoop, Hadoop's `RawLocalFileSystem` starts
  * a `chmod` process for every file and `.crc` sidecar it creates and
  * every directory it makes, and Spark's default checkpoint manager
  * (`FileContext`) starts `readlink` processes on every metadata-log
  * rename. The library hands its local write paths to Hadoop under
  * this scheme ([[GraftLocalFileSystem.local]]), so it changes nothing
  * for `file:` paths elsewhere in the JVM. Files are the same bytes,
  * `.crc` sidecars and POSIX modes as under `file:`. It is registered
  * through `META-INF/services/org.apache.hadoop.fs.FileSystem`, and
  * has no `AbstractFileSystem`: Spark's `CheckpointFileManager.create`
  * then falls back to its `FileSystemBasedCheckpointFileManager`
  * (logging one WARN per log). */
final class GraftLocalFileSystem
    extends LocalFileSystem(new GraftLocalFileSystem.Raw) {
  override def getScheme: String = GraftLocalFileSystem.Scheme
}

object GraftLocalFileSystem {
  val Scheme = "graftlocal"
  private val Name = URI.create(s"$Scheme:///")

  private[sources] final class Raw extends RawLocalFileSystem {
    override def getUri: URI = Name

    /** `Files.setPosixFilePermissions` for the nine rwx bits; the
      * bits it cannot express (sticky) and non-POSIX file systems go
      * to Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission runs OWNER_READ .. OTHERS_EXECUTE, the
        // bits 0400 .. 0001
        val bits = new java.util.HashSet[PosixFilePermission]()
        PosixFilePermission.values.foreach { b =>
          if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b)
        }
        try { Files.setPosixFilePermissions(pathToFile(p).toPath, bits); () }
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
      }
    }
  }

  /** `path` under this file system's scheme when it names a local
    * file: a `file:` path, or one without a scheme while `conf`'s
    * default file system is local (relative paths resolve against the
    * working directory, as Hadoop's local file system resolves them).
    * Every other path is returned unchanged. */
  def local(path: String, conf: Configuration): String = {
    val uri = new Path(path).toUri
    val scheme = Option(uri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") path
    else new Path(Scheme, null,
      new java.io.File(uri.getPath).getAbsolutePath).toString
  }
}
