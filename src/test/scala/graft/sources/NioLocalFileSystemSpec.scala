package graft.sources

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class NioLocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Hadoop's own local file system and this one, both under `umask`. */
  private def pair(umask: String): (FileSystem, FileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val stock = new LocalFileSystem()
    stock.initialize(FileSystem.getDefaultUri(conf), conf)
    val nio = new NioLocalFileSystem()
    nio.initialize(FileSystem.getDefaultUri(conf), conf)
    (stock, nio)
  }

  test("a GraftSession session resolves file: to the fork-free file system") {
    val dir = new Path(Files.createTempDirectory("fs").toUri)
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
                     spark.sessionState.newHadoopConf())) {
      val fs = dir.getFileSystem(conf)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    }
    assert(Writers.taskFs(dir.toString).isInstanceOf[NioRawLocalFileSystem])
  }

  test("creates and chmods give the modes Hadoop's forked chmod gives") {
    val root = Files.createTempDirectory("fs-modes")
    for (umask <- Seq("022", "027", "077")) {
      val (stock, nio) = pair(umask)
      val modes = Seq(stock, nio).map { fs =>
        val base = root.resolve(s"$umask-${fs.getClass.getSimpleName}")
        val dir = new Path(base.toUri)
        fs.mkdirs(new Path(dir, "a/b"))
        val out = fs.create(new Path(dir, "a/b/f"), true)
        try out.write(1) finally out.close()
        Seq("", "a", "a/b", "a/b/f", "a/b/.f.crc").map(s => mode(base.resolve(s)))
      }
      assert(modes(0) === modes(1), s"umask $umask")
    }
    val (_, nio) = pair("022")
    val f = new Path(root.resolve("022-NioLocalFileSystem/a/b/f").toUri)
    for (bits <- Seq(0x1ed, 0x1a4, 0x100, 0)) {
      nio.setPermission(f, new FsPermission(bits.toShort))
      assert(nio.getFileStatus(f).getPermission.toShort === bits)
    }
    intercept[java.io.IOException](
      nio.setPermission(new Path(root.resolve("missing").toUri), new FsPermission(0x1a4.toShort)))
  }

  test("statuses load permission, owner and group as Hadoop's own do") {
    val root = Files.createTempDirectory("fs-status")
    val (stock, nio) = pair("022")
    val file = new Path(root.resolve("d/f").toUri)
    val out = nio.create(file, true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    Files.setPosixFilePermissions(root.resolve("d/f"), PosixFilePermissions.fromString("rw-r-----"))
    for (p <- Seq(file, file.getParent)) {
      val (a, b) = (stock.getFileStatus(p), nio.getFileStatus(p))
      assert((b.getPath, b.getLen, b.isDirectory, b.getModificationTime) ===
        (a.getPath, a.getLen, a.isDirectory, a.getModificationTime))
      assert((b.getPermission, b.getOwner, b.getGroup) === (a.getPermission, a.getOwner, a.getGroup))
    }
    assert(nio.listStatus(file).map(_.getPath).toSeq === Seq(file))
    assert(nio.listStatus(file.getParent).map(_.getPath.getName).sorted.toSeq ===
      stock.listStatus(file.getParent).map(_.getPath.getName).sorted.toSeq)
    val missing = new Path(root.resolve("missing").toUri)
    intercept[FileNotFoundException](nio.getFileStatus(missing))
    intercept[FileNotFoundException](nio.listStatus(missing))
  }

  test("Spark and DownloadSink writes get umask modes and keep .crc files") {
    val root = Files.createTempDirectory("fs-writes")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.csv(root.resolve("csv").toString)
    DownloadSink.run(
      Seq(("1", "Acme", "https://x/document/1/1")).toDF("doc_id", "entity_name", "url")
        .transform(DownloadSink.buildQueue(_, Seq.empty[String].toDF("filename"), 0L)),
      root.resolve("downloads").toString,
      url => Right(s"%PDF-1.7 $url".getBytes))
    val written = Files.walk(root).iterator.asScala.filter(_ != root).toSeq
    val (dirs, files) = written.partition(Files.isDirectory(_))
    assert(dirs.map(_.getFileName.toString).toSet === Set("csv", "downloads"))
    assert(dirs.forall(mode(_) == "rwxr-xr-x"), dirs.map(d => s"$d ${mode(d)}"))
    assert(files.forall(mode(_) == "rw-r--r--"), files.map(f => s"$f ${mode(f)}"))
    val names = files.map(_.getFileName.toString)
    assert(names.exists(n => n.startsWith(".part-") && n.endsWith(".csv.crc")), names)
    assert(names.contains("._SUCCESS.crc") && names.contains("Acme_1.pdf"), names)
  }
}
