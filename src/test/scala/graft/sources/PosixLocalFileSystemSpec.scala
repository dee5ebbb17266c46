package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[PosixLocalFileSystem]]: the sessions bind `file://` to it, and what it
  * writes carries the permissions Hadoop's stock `LocalFileSystem` gives.
  */
class PosixLocalFileSystemSpec extends SparkSpec {

  test("the session's Hadoop conf resolves file:// to the java.nio FileSystem") {
    // newInstance bypasses Hadoop's JVM-wide FileSystem cache, so an
    // instance cached by an earlier suite cannot stand in for the wiring
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.newInstance(new URI("file:///"), conf)
      try {
        assert(fs.getClass === classOf[PosixLocalFileSystem])
        assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[PosixRawLocalFileSystem])
      } finally fs.close()
    }
  }

  test("posixBits maps every rwx mode as chmod does") {
    for (mode <- 0 until 512) {
      val p = new FsPermission(mode.toShort)
      assert(PosixLocalFileSystem.posixBits(p) === PosixFilePermissions.fromString(p.toString),
        f"mode $mode%04o")
    }
  }

  /** (relative path with run ids masked, rwx string) of every file and
    * directory under `root`, the root included.
    */
  private def modes(root: JPath): Seq[(String, String)] = {
    val runId = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val walk = Files.walk(root)
    try walk.iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll(runId, "<id>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    finally walk.close()
  }

  test("an Ingest.writeParquet chain leaves the permissions the stock LocalFileSystem leaves") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "k").repartition(2)
    val dir = Files.createTempDirectory("posix-local-fs")
    // an unusual umask, so that a mode the process umask leaves cannot
    // pass for one set through the FileSystem; uncached instances, so each
    // write uses the class and umask asked for. newHadoopConf copies the
    // session's runtime confs under their own names.
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache", "fs.permissions.umask-mode")
    def written(impl: Class[_]): Seq[(String, String)] = {
      spark.conf.set(keys(0), impl.getName)
      spark.conf.set(keys(1), "true")
      spark.conf.set(keys(2), "027")
      try {
        val fs = FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
        assert(fs.getClass === impl)
        val out = dir.resolve(impl.getSimpleName)
        Ingest.writeParquet(df, out.toString, Seq("k"))
        modes(out)
      } finally keys.foreach(spark.conf.unset)
    }
    val stock = written(classOf[LocalFileSystem])
    val posix = written(classOf[PosixLocalFileSystem])
    assert(posix === stock)
    val names = posix.map(_._1)
    assert(names.contains("_SUCCESS") && names.contains("._SUCCESS.crc"), names)
    assert(names.exists(n => n.startsWith("k=a/.part-") && n.endsWith(".crc")), names)
    assert(posix.map(_._2).toSet === Set("rwxr-x---", "rw-r-----"), posix)
  }

  test("a sticky-bit setPermission on a directory reads back sticky") {
    val dir = new Path(Files.createTempDirectory("posix-local-fs-sticky").toUri)
    val fs = FileSystem.newInstance(new URI("file:///"), spark.sessionState.newHadoopConf())
    try {
      fs.setPermission(dir, new FsPermission(Integer.parseInt("1750", 8).toShort))
      val back = fs.getFileStatus(dir).getPermission
      assert(back.getStickyBit)
      assert(back.toShort === Integer.parseInt("1750", 8).toShort, back.toString)
    } finally fs.close()
  }
}
