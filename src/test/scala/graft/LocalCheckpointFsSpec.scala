package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission

import graft.streaming.{ForklessLocalFs, ForklessRawLocalFileSystem, LocalCheckpointFs}

/** The fork-free `file:` FileContext must be observably the stock one:
  * same permissions, same link status, same rename and checksum rules.
  */
class LocalCheckpointFsSpec extends SparkSpec {

  private def tmp(): JPath = Files.createTempDirectory("graft-lcfs")

  private def conf(impl: String, umask: String = "022"): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set(LocalCheckpointFs.Key, impl)
    c.set(FsPermission.UMASK_LABEL, umask)
    c
  }

  private def fc(impl: String, umask: String = "022"): FileContext =
    FileContext.getFileContext(new java.net.URI("file:///"), conf(impl, umask))

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    fs
  }

  private val Forkless = classOf[ForklessLocalFs].getName

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  test("FileContext resolves file: to ForklessLocalFs when the key is set") {
    val afs = AbstractFileSystem.get(new java.net.URI("file:///"), conf(Forkless))
    assert(afs.isInstanceOf[ForklessLocalFs])
    assert(AbstractFileSystem.get(new java.net.URI("file:///"),
      conf(LocalCheckpointFs.StockLocalFs)).getClass.getName == LocalCheckpointFs.StockLocalFs)
  }

  test("created files and dirs get the stock FS's POSIX permissions under the umask") {
    for (umask <- Seq("022", "077"); mode <- Seq("644", "755", "700")) {
      val perm = octal(mode)
      val got = Seq(LocalCheckpointFs.StockLocalFs, Forkless).map { impl =>
        val dir = tmp()
        val ctx = fc(impl, umask)
        val file = new Path(dir.resolve("f").toUri)
        ctx.create(file, EnumSet.of(CreateFlag.CREATE), CreateOpts.perms(perm)).close()
        val sub = new Path(dir.resolve("d").toUri)
        ctx.mkdir(sub, perm, false)
        (Files.getPosixFilePermissions(dir.resolve("f")).asScala.toSet,
          Files.getPosixFilePermissions(dir.resolve("d")).asScala.toSet)
      }
      assert(got(0) == got(1), s"umask $umask mode $mode: stock ${got(0)} forkless ${got(1)}")
    }
  }

  test("a sticky-bit mode takes the stock chmod fallback") {
    val dir = tmp().resolve("sticky")
    val fs = raw(new ForklessRawLocalFileSystem)
    val p = new Path(dir.toUri)
    assert(fs.mkdirs(p))
    fs.setPermission(p, octal("1777"))
    // java.nio cannot set the sticky bit, so only the fallback can show it
    val st = raw(new RawLocalFileSystem).getFileStatus(p)
    assert(st.getPermission.getStickyBit, st.getPermission)
    assert(st.getPermission == octal("1777"))
  }

  test("getFileLinkStatus matches the stock FS on files, dirs and missing paths") {
    val dir = tmp()
    Files.write(dir.resolve("f"), "abc".getBytes)
    Files.createDirectory(dir.resolve("d"))
    val stock = raw(new RawLocalFileSystem)
    val forkless = raw(new ForklessRawLocalFileSystem)
    for (name <- Seq("f", "d")) {
      val p = new Path(dir.resolve(name).toUri)
      val (a, b) = (stock.getFileLinkStatus(p), forkless.getFileLinkStatus(p))
      def fields(s: org.apache.hadoop.fs.FileStatus) = (s.getPath, s.getLen, s.isDirectory,
        s.isFile, s.isSymlink, s.getModificationTime, s.getReplication, s.getBlockSize,
        s.getPermission, s.getOwner, s.getGroup)
      assert(fields(a) == fields(b), name)
    }
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkless.getFileLinkStatus(missing))
  }

  test("getFileLinkStatus reports a real symlink and its qualified target") {
    val dir = tmp()
    Files.write(dir.resolve("target"), "abc".getBytes)
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val fs = raw(new ForklessRawLocalFileSystem)
    for ((name, to) <- Seq("link" -> "target", "dangling" -> "gone")) {
      val st = fs.getFileLinkStatus(new Path(dir.resolve(name).toUri))
      assert(st.isSymlink && !st.isDirectory, name)
      assert(st.getSymlink == new Path(dir.resolve(to).toUri), st.getSymlink)
    }
    assert(fs.getFileStatus(new Path(dir.resolve("link").toUri)).getLen == 3L)
  }

  test("rename onto an existing file needs OVERWRITE; .crc files follow the data") {
    val dir = tmp()
    val ctx = fc(Forkless)
    val (src, dst) = (new Path(dir.resolve("src").toUri), new Path(dir.resolve("dst").toUri))
    for ((p, s) <- Seq(src -> "new", dst -> "old")) {
      val out = ctx.create(p, EnumSet.of(CreateFlag.CREATE))
      out.write(s.getBytes); out.close()
    }
    assert(Files.exists(dir.resolve(".src.crc")) && Files.exists(dir.resolve(".dst.crc")))
    intercept[FileAlreadyExistsException](ctx.rename(src, dst))
    assert(new String(Files.readAllBytes(dir.resolve("dst"))) == "old")
    ctx.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(dir.resolve("dst"))) == "new")
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
    val in = ctx.open(dst)
    try assert(new String(in.readAllBytes()) == "new") finally in.close()
  }

  test("a flipped byte fails the read with Hadoop's ChecksumException") {
    for (impl <- Seq(LocalCheckpointFs.StockLocalFs, Forkless)) {
      val dir = tmp()
      val ctx = fc(impl)
      val p = new Path(dir.resolve("data").toUri)
      val out = ctx.create(p, EnumSet.of(CreateFlag.CREATE))
      out.write(Array.tabulate[Byte](1000)(_.toByte)); out.close()
      val bytes = Files.readAllBytes(dir.resolve("data"))
      bytes(500) = (bytes(500) ^ 0x01).toByte
      Files.write(dir.resolve("data"), bytes)
      // open(path, bufferSize): in Hadoop 3.4 FilterFs.open(path) goes to
      // the raw FS and skips the .crc, on the stock LocalFs as well
      val in = ctx.open(p, 4096)
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    }
  }

  test("install replaces only Hadoop's default; an explicit setting wins") {
    val fresh = spark.newSession()
    LocalCheckpointFs.install(fresh)
    assert(fresh.conf.get(LocalCheckpointFs.Key) == Forkless)
    for (explicit <- Seq(LocalCheckpointFs.StockLocalFs, "com.example.OtherFs")) {
      val s = spark.newSession()
      s.conf.set(LocalCheckpointFs.Key, explicit)
      LocalCheckpointFs.install(s)
      assert(s.conf.get(LocalCheckpointFs.Key) == explicit)
    }
    // set in the Hadoop configuration (spark.hadoop.*, core-site.xml),
    // even to the default class
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set(LocalCheckpointFs.Key, LocalCheckpointFs.StockLocalFs)
    try {
      val s = spark.newSession()
      LocalCheckpointFs.install(s)
      assert(s.conf.getOption(LocalCheckpointFs.Key).isEmpty)
    } finally hadoop.set(LocalCheckpointFs.Key, LocalCheckpointFs.StockLocalFs, "core-default.xml")
    assert(hadoop.getPropertySources(LocalCheckpointFs.Key).toSeq == Seq("core-default.xml"))
  }
}
