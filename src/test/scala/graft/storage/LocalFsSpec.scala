package graft.storage

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  Path}
import org.apache.hadoop.fs.Options.Rename
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

/** [[ForkFreeLocalFs]] against Hadoop's default `file:` filesystem on the
  * same directory: created files and directories get the same bits,
  * renames keep their no-overwrite and overwrite contracts, and link
  * status matches for files, directories, symlinks and missing paths. */
class LocalFsSpec extends SparkSpec {
  private def confWith(impl: String, umask: Option[String]): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set(ForkFreeLocalFs.ImplKey, impl)
    umask.foreach(c.set(FsPermission.UMASK_LABEL, _))
    c
  }
  private def fc(impl: String, umask: Option[String] = None): FileContext = {
    val ctx = FileContext.getFileContext(new java.net.URI("file:///"), confWith(impl, umask))
    assert(ctx.getDefaultFileSystem.getClass.getName == impl)
    ctx
  }
  private val hadoopImpl = classOf[LocalFs].getName
  private val graftImpl = classOf[ForkFreeLocalFs].getName

  private def write(ctx: FileContext, p: Path, text: String): Unit = {
    val out = ctx.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def read(p: Path): String =
    new String(Files.readAllBytes(Paths.get(p.toUri)), UTF_8)

  /** Every entry under `root` (relative name → rwx string), side files included. */
  private def tree(root: java.nio.file.Path): Map[String, String] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  private def linkView(s: FileStatus) =
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("a graft session's file: filesystem is the fork-free one") {
    spark.range(1).collect() // builds the session state, which installs it
    assert(spark.sparkContext.hadoopConfiguration.get(ForkFreeLocalFs.ImplKey) == graftImpl)
  }

  test("created files and mkdirs get Hadoop's permission bits under the umask") {
    val base = Files.createTempDirectory("localfs-perm")
    for (umask <- Seq(None, Some("027"), Some("077"))) {
      val trees = Seq(hadoopImpl, graftImpl).map { impl =>
        val root = base.resolve(s"${umask.getOrElse("session")}-${impl.split('.').last}")
        val ctx = fc(impl, umask)
        val r = new Path(root.toUri)
        ctx.mkdir(new Path(r, "a/b"), FsPermission.getDirDefault, true)
        write(ctx, new Path(r, "a/b/f"), "x")
        write(ctx, new Path(r, "g"), "y")
        tree(root)
      }
      assert(trees(0).nonEmpty && trees(0) == trees(1), s"umask $umask")
      if (umask.contains("077")) {
        assert(trees(1)("a/b") == "rwx------" && trees(1)("a/b/f") == "rw-------",
          s"umask 077 bits not applied: ${trees(1)}")
      }
    }
  }

  test("rename: NONE onto an existing file throws, OVERWRITE replaces it") {
    val base = Files.createTempDirectory("localfs-rename")
    for (impl <- Seq(hadoopImpl, graftImpl)) {
      val ctx = fc(impl)
      val dir = new Path(base.resolve(impl.split('.').last).toUri)
      val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
      ctx.mkdir(dir, FsPermission.getDirDefault, true)
      write(ctx, src, "new")
      write(ctx, dst, "old")
      intercept[FileAlreadyExistsException](ctx.rename(src, dst, Rename.NONE))
      assert(read(dst) == "old", impl)
      ctx.rename(src, dst, Rename.OVERWRITE)
      assert(read(dst) == "new" && !ctx.util.exists(src), impl)
      assert(tree(Paths.get(dir.toUri)).keySet == Set("dst", ".dst.crc"), impl)
    }
  }

  test("getFileLinkStatus matches Hadoop's for a file, a directory, a symlink and a missing path") {
    val base = Files.createTempDirectory("localfs-link")
    Files.write(base.resolve("file"), "z".getBytes(UTF_8))
    Files.createDirectory(base.resolve("dir"))
    Files.createSymbolicLink(base.resolve("link"), base.resolve("file"))
    val (hadoop, graft) = (fc(hadoopImpl), fc(graftImpl))
    for (name <- Seq("file", "dir", "link")) {
      val p = new Path(base.resolve(name).toUri)
      assert(linkView(graft.getFileLinkStatus(p)) == linkView(hadoop.getFileLinkStatus(p)), name)
    }
    val missing = new Path(base.resolve("missing").toUri)
    intercept[java.io.FileNotFoundException](hadoop.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](graft.getFileLinkStatus(missing))
  }

  test("install replaces only Hadoop's default file: filesystem") {
    val default = new Configuration(false)
    default.set(ForkFreeLocalFs.ImplKey, hadoopImpl)
    ForkFreeLocalFs.install(default)
    assert(default.get(ForkFreeLocalFs.ImplKey) == graftImpl)
    val custom = new Configuration(false)
    custom.set(ForkFreeLocalFs.ImplKey, "com.example.CustomLocalFs")
    ForkFreeLocalFs.install(custom)
    assert(custom.get(ForkFreeLocalFs.ImplKey) == "com.example.CustomLocalFs")
  }
}
