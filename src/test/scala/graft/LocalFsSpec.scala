package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.functions.{count, lit}
import scala.jdk.CollectionConverters._
import graft.model.{StateStore, Warehouse}
import graft.queries.ScaleQueries

/** graft's `file:` file system: writes and streams start no process,
  * and what Hadoop's would have answered is answered the same way. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** Spark's cleanup of a garbage-collected session's artifacts. It runs
    * on the JVM's `Cleaner-0` thread whenever an earlier session (a
    * stream's or a loop's clone, any spec's) is collected, and deletes
    * that session's directory with `rm -rf /tmp/artifacts-<id>/<session>`,
    * so it is not work of the body under test. */
  private val artifactCleanup =
    ("org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner", "run")

  /** The commands of every process started while `body` ran, except
    * those started under [[artifactCleanup]] (told apart by their stack
    * trace; a process without one counts). */
  private def spawns(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft_spawns_", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala
        .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(fr =>
          (fr.getMethod.getType.getName, fr.getMethod.getName) == artifactCleanup)))
        .map(_.getString("command")).toSeq
    } finally { r.close(); Files.delete(f) }
  }

  private def modes(root: JPath): Map[Boolean, Set[String]] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).toSeq
      .groupBy(Files.isDirectory(_))
      .map { case (d, ps) => d -> ps.map(p =>
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet }
    finally s.close()
  }

  test("file: resolves to graft's file system for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[GraftLocalFs])
  }

  test("a partitioned version write and an append start no process") {
    val dir = Files.createTempDirectory("graft_localfs_wh_")
    val wh = new Warehouse(spark, dir.toString, StateStore(dir + "/state"))
    val v1 = Seq((1, "a", "d1"), (2, "b", "d2")).toDF("id", "v", "day")
    val v2 = Seq((3, "c", "d2"), (4, "d", "d3")).toDF("id", "v", "day")
    val cmds = spawns {
      wh.writeVersion("fs", v1, Seq("day"))
      wh.append("fs", v2)
    }
    assert(cmds.isEmpty, cmds.mkString("\n"))
    assert(wh.read("fs").count() == 4)
    // Written with Hadoop's modes: files 0644, directories 0755.
    val m = modes(dir.resolve("fs"))
    assert(m(false) == Set("rw-r--r--"), m)
    assert(m(true) == Set("rwxr-xr-x"), m)
  }

  test("a stateful stream starts no process") {
    val in = Files.createTempDirectory("graft_localfs_in_").toString
    Seq(Seq(1L, 1L), Seq(1L, 2L)).foreach(p =>
      p.toDF("x").coalesce(1).write.mode("append").parquet(in))
    val counts = spark.readStream.schema("x LONG").option("maxFilesPerTrigger", 1)
      .parquet(in).groupBy("x").agg(count(lit(1)).as("n"))
    var res = Seq.empty[(Long, Long)]
    val cmds = spawns {
      res = ScaleQueries.runStream(spark, counts, "complete", "spec_localfs")
        .as[(Long, Long)].collect().toSeq
    }
    assert(cmds.isEmpty, cmds.mkString("\n"))
    assert(res.sorted == Seq((1L, 3L), (2L, 1L)))
  }

  test("getFileLinkStatus answers as Hadoop's RawLocalFileSystem does") {
    val conf = spark.sparkContext.hadoopConfiguration
    def init(fs: RawLocalFileSystem) = { fs.initialize(URI.create("file:///"), conf); fs }
    val ours = init(new NioRawLocalFileSystem)
    val hadoop = init(new RawLocalFileSystem)
    // Every field but the permission, owner and group, which Hadoop reads
    // by running `ls`.
    def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, s.getModificationTime, if (s.isSymlink) Some(s.getSymlink) else None)

    val dir = Files.createTempDirectory("graft_localfs_link_")
    val file = Files.writeString(dir.resolve("f.txt"), "abc")
    val link = Files.createSymbolicLink(dir.resolve("l.txt"), file)
    val paths = Seq(
      new Path(file.toUri), new Path(file.toString), new Path(dir.toUri),
      new Path(link.toString), new Path(link.toUri))
    paths.foreach { p =>
      assert(fields(ours.getFileLinkStatus(p)) == fields(hadoop.getFileLinkStatus(p)), p)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    // Hadoop runs `readlink file:/…` for a qualified path, which names no
    // file, so it reports a qualified symlink as its target.
    assert(!ours.getFileLinkStatus(new Path(link.toUri)).isSymlink)
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("setPermission sets the rwx bits and keeps Hadoop's path for the sticky bit") {
    val ours = new NioRawLocalFileSystem
    ours.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val f = Files.createTempFile("graft_localfs_perm_", ".txt")
    ours.setPermission(new Path(f.toUri),
      new org.apache.hadoop.fs.permission.FsPermission("0640"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == "rw-r-----")
    val d = Files.createTempDirectory("graft_localfs_sticky_")
    ours.setPermission(new Path(d.toUri),
      new org.apache.hadoop.fs.permission.FsPermission("1750"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(d)) == "rwxr-x---")
  }
}
