package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, FSLinkResolver, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, SparkSession}

/** `RawLocalFileSystem` without process forks on the checkpoint path.
  * Without Hadoop's native library the stock class runs `chmod` on every
  * file create (`setPermission`) and `readlink` twice on every
  * `FileContext` rename (`getFileLinkStatus`). Both become `java.nio` calls
  * here; everything else, rename semantics included, is inherited.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission) // mode outside 0777
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) } // non-POSIX store
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f) // FileNotFoundException when missing
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      val st = try getFileStatus(f) catch { case _: FileNotFoundException => null } // dangling
      val link =
        if (st == null) new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
          target, f)
      link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      link
    }
  }
}

/** Hadoop's `RawLocalFs` over [[ForklessRawLocalFileSystem]]. */
class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` shape — `.crc` files, checksum verification and
  * rename-without-overwrite unchanged — over the fork-free raw FS.
  */
class ForklessLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForklessRawLocalFs(uri, conf))

/** Installs [[ForklessLocalFs]] as the session's `file:` `FileContext`,
  * the API Spark's checkpoint file manager and state store write through.
  */
object LocalCheckpointFs {
  val Key = "fs.AbstractFileSystem.file.impl"
  val StockLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  /** Sets the session conf unless the key was set explicitly, in the session
    * or in the Hadoop configuration: only Hadoop's default, [[StockLocalFs]]
    * from `core-default.xml`, is replaced.
    */
  def install(spark: SparkSession): Unit = {
    val sources = spark.sparkContext.hadoopConfiguration.getPropertySources(Key)
    if (spark.conf.getOption(Key).isEmpty && sources != null &&
        sources.toSeq == Seq("core-default.xml"))
      spark.conf.set(Key, classOf[ForklessLocalFs].getName)
  }

  /** Builder hook: installs on `ds`'s session and returns `ds`. */
  private[graft] def checkpointed[T](ds: Dataset[T]): Dataset[T] = {
    install(ds.sparkSession)
    ds
  }
}
