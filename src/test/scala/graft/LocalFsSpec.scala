package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ForkFreeLocalFileSystem, TxnLog}

/** The fork-free local file system: lake verbs start no `chmod` or
  * `ls` process, and its permissions, owners and groups match Hadoop's
  * stock `RawLocalFileSystem`, which reads them by forking `ls -ld`. */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  private def tmpDir(tag: String): java.io.File =
    Files.createTempDirectory(s"graft_localfs_$tag").toFile

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val ours = raw(new ForkFreeLocalFileSystem.Raw)

  private def assertSameStatus(p: Path): Unit = {
    val (a, b) = (ours.getFileStatus(p), stock.getFileStatus(p))
    assert(a.getPermission === b.getPermission, s"permission of $p")
    assert(a.getOwner === b.getOwner, s"owner of $p")
    assert(a.getGroup === b.getGroup, s"group of $p")
    assert((a.getLen, a.isDirectory, a.getModificationTime, a.getPath) ===
      (b.getLen, b.isDirectory, b.getModificationTime, b.getPath))
  }

  test("the session's file:// file system is the fork-free one") {
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[ForkFreeLocalFileSystem],
      "a plain LocalFileSystem was cached before the session existed")
    assert(new Path(tmpDir("get").getPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration) eq fs)
  }

  test("append, MoR delete, update, compact and vacuum start no chmod " +
       "or ls process") {
    import spark.implicits._
    val t = s"${tmpDir("forks").getPath}/t"
    val rows = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
    TxnLog.create(spark, t, rows.filter(col("id") < 100).repartition(2))
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands =
      try {
        TxnLog.append(spark, t, rows.filter(col("id") >= 100).repartition(2))
        TxnLog.deleteMoR(spark, t, col("id") < 10)
        TxnLog.updateMoR(spark, t, col("id") === 50L, Map("s" -> lit("u")))
        TxnLog.compactSmall(spark, t, 1L << 20, 1)
        TxnLog.vacuum(spark, t, retainVersions = 1, retainMillis = 0L)
        rec.stop()
        val dump = Files.createTempFile("graft_forks", ".jfr")
        try {
          rec.dump(dump)
          RecordingFile.readAllEvents(dump).asScala.toSeq
            .filter(_.getEventType.getName == "jdk.ProcessStart")
            .map(_.getString("command"))
        } finally Files.delete(dump)
      } finally rec.close()
    val forks = commands.filter(c => c.startsWith("chmod") || c.startsWith("ls"))
    assert(forks.size === 0, s"chmod/ls processes started, first: ${forks.take(3)}")
    assert(TxnLog.read(spark, t).count() === 190)
  }

  test("file and directory status match the stock file system") {
    val d = tmpDir("status")
    val f = new java.io.File(d, "f.txt")
    Files.write(f.toPath, Array[Byte](1, 2, 3))
    Files.setPosixFilePermissions(f.toPath, PosixFilePermissions.fromString("rw-r-----"))
    assertSameStatus(new Path(f.getPath))
    assertSameStatus(new Path(d.getPath))
    // Listing a directory and listing a lone file.
    val listed = ours.listStatus(new Path(d.getPath))
    assert(listed.map(_.getPath) === stock.listStatus(new Path(d.getPath)).map(_.getPath))
    assert(listed.head.getPermission === new FsPermission("640"))
    assert(ours.listStatus(new Path(f.getPath)).head.getPermission ===
      stock.listStatus(new Path(f.getPath)).head.getPermission)
    intercept[java.io.FileNotFoundException](
      ours.getFileStatus(new Path(d.getPath, "missing")))
  }

  test("a status reads its permission on first use, not when listed") {
    val f = new java.io.File(tmpDir("lazy"), "f.txt")
    Files.write(f.toPath, Array[Byte](1))
    Files.setPosixFilePermissions(f.toPath, PosixFilePermissions.fromString("rw-------"))
    val st = ours.getFileStatus(new Path(f.getPath))
    Files.setPosixFilePermissions(f.toPath, PosixFilePermissions.fromString("rw-r--r--"))
    assert(st.getPermission === new FsPermission("644"))
  }

  test("create with an explicit 0640 matches the stock file system") {
    val d = tmpDir("create")
    val perm = new FsPermission("640")
    def make(fs: RawLocalFileSystem, name: String): Path = {
      val p = new Path(d.getPath, name)
      fs.create(p, perm, false, 4096, 1.toShort, 1L << 20, null).close()
      p
    }
    val (a, b) = (make(ours, "ours"), make(stock, "stock"))
    assert(stock.getFileStatus(a).getPermission === perm)
    assert(stock.getFileStatus(a).getPermission === stock.getFileStatus(b).getPermission)
    assertSameStatus(a)
  }

  test("mkdirs under the default umask matches the stock file system") {
    val d = tmpDir("mkdirs")
    val (a, b) = (new Path(d.getPath, "ours/x"), new Path(d.getPath, "stock/x"))
    assert(ours.mkdirs(a) && stock.mkdirs(b))
    assert(stock.getFileStatus(a).getPermission === stock.getFileStatus(b).getPermission)
    assert(stock.getFileStatus(a.getParent).getPermission ===
      stock.getFileStatus(b.getParent).getPermission)
    assertSameStatus(a)
  }

  test("a sticky bit falls back to the stock permission write") {
    val d = new Path(tmpDir("sticky").getPath, "s")
    assert(ours.mkdirs(d))
    val sticky = new FsPermission("1777")
    ours.setPermission(d, sticky)
    assert(stock.getFileStatus(d).getPermission === sticky)
    assertSameStatus(d)
  }
}
