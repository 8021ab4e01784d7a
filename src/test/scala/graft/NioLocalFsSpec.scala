package graft

import java.net.URI
import java.nio.file.{Files, attribute}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{KeyedUpsertSink, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The `file:` filesystem registered in `core-site.xml`: both Hadoop APIs
  * resolve to it, it keeps the local filesystem's permission and symlink
  * behaviour, and checkpointed micro-batches run without forking. */
class NioLocalFsSpec extends GraftSuite {

  private def localFs: FileSystem = FileSystem.get(URI.create("file:///"), new Configuration())

  test("file: resolves to the fork-free classes through FileSystem and FileContext") {
    val fs = localFs
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration()).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(new Configuration()).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
    // the Spark session's own Hadoop configuration picks it up too
    assert(new Path("file:///tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("setPermission round-trips 0644, 0755 and 0700") {
    val fs = localFs
    val dir = Files.createTempDirectory("graft_perm")
    val file = new Path(dir.resolve("f").toUri)
    fs.create(file).close()
    Seq("644", "755", "700").foreach { mode =>
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      fs.setPermission(file, perm)
      assert(attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(dir.resolve("f"))) == perm.toString, mode)
      assert(fs.getFileStatus(file).getPermission == perm, mode)
    }
    // directories too, through the FileContext API
    val sub = new Path(dir.resolve("d").toUri)
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    fc.mkdir(sub, FsPermission.getDirDefault, false)
    fc.setPermission(sub, new FsPermission("700"))
    assert(attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(dir.resolve("d"))) == "rwx------")
  }

  test("a real symlink still reports isSymlink; a plain file does not") {
    val fs = localFs
    val dir = Files.createTempDirectory("graft_link")
    val target = Files.writeString(dir.resolve("target"), "abc")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    val plain = fs.getFileLinkStatus(new Path(target.toUri))
    assert(!plain.isSymlink && plain.getLen == 3)
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toUri)))
  }

  test("checkpointed stateful micro-batches start no process from Hadoop's Shell") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // Shell's class initializer probes bash and setsid with child
    // processes, once per JVM; load it before recording
    Class.forName("org.apache.hadoop.util.Shell")
    val base = Files.createTempDirectory("graft_nofork").toString
    val starts = new ConcurrentLinkedQueue[RecordedEvent]()
    val marker = s"graft-nofork-${System.nanoTime()}"
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => { starts.add(e); () })
      rs.startAsync()
      val stream = MemoryStream[(Long, Long)]
      val q = stream.toDF().toDF("k", "v")
        .groupBy("k").agg(sum("v").as("n"), max("v").as("ver"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          KeyedUpsertSink.upsert(b.sparkSession, s"$base/out", b, Seq("k"), "ver")
        }
        .start()
      try {
        Seq(Seq((1L, 1L), (2L, 2L)), Seq((1L, 3L)), Seq((3L, 4L), (2L, 5L))).foreach { rows =>
          stream.addData(rows: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(spark.read.parquet(s"$base/out").orderBy("k").as[(Long, Long, Long)].collect().toList ==
        List((1L, 4L, 3L), (2L, 7L, 5L), (3L, 4L, 4L)))
      // a process of our own, started last: once its event is delivered,
      // every earlier one has been too
      new ProcessBuilder("true", marker).start().waitFor()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!starts.asScala.exists(_.getString("command").contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally rs.close()
    def fromShell(e: RecordedEvent): Boolean = Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
    assert(starts.asScala.exists(_.getString("command").contains(marker)),
      "the recording did not see a process this test started")
    val forked = starts.asScala.filter(fromShell).map(_.getString("command")).toList
    assert(forked.isEmpty, s"${forked.size} processes from Hadoop's Shell: ${forked.take(10)}")
  }
}
