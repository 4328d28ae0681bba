package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file://` FileSystem: Hadoop's checksummed local
  * FileSystem with an in-process `setPermission`. */
class GraftSessionSpec extends SparkSpec {

  private def hadoopConf = spark.sessionState.newHadoopConf()

  test("file:// resolves to the graft FileSystem") {
    val fs = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[ForkFreeRawLocalFileSystem])
    val tmp = Files.createTempDirectory("graft-fs")
    tmp.toFile.deleteOnExit()
    assert(new HPath(tmp.toUri).getFileSystem(hadoopConf)
      .isInstanceOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(hadoopConf).isInstanceOf[GraftLocalFileSystem])
  }

  test("written files and dirs keep the permission bits of Hadoop's stock LocalFileSystem") {
    val graft = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    // the stock FileSystem, built outside the FileSystem cache
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), hadoopConf)
    def perms(p: Path): String =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    def layout(fs: FileSystem): Seq[String] = {
      val root = Files.createTempDirectory("graft-perm")
      root.toFile.deleteOnExit()
      def hp(rel: String) = new HPath(root.resolve(rel).toUri)
      fs.mkdirs(hp("a/b"))
      fs.mkdirs(hp("m"), new FsPermission("700"))
      fs.create(hp("a/b/f.parquet")).close()
      fs.create(hp("g"), new FsPermission("640"), true, 4096, 1.toShort,
        1L << 20, null).close()
      fs.create(hp("h")).close()
      fs.setPermission(hp("h"), new FsPermission("751"))
      fs.setPermission(hp("a"), new FsPermission("705"))
      Seq("a", "a/b", "a/b/f.parquet", "a/b/.f.parquet.crc", "m", "g", "h")
        .map(rel => s"$rel ${perms(root.resolve(rel))}")
    }
    try assert(layout(graft) === layout(stock))
    finally stock.close()
  }
}
