package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import scala.util.Using
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import graft.engine.{Catalog, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The session's `file:` filesystem: the same modes, link statuses and
  * errors as Hadoop's stock local filesystem, installed for both Hadoop
  * APIs, and no process launched by a warehouse write, a compaction or
  * a streaming checkpoint. On Hadoop's own classes, without `libhadoop`,
  * the last case saw 261 launches (149 `chmod`, 112 `readlink`).
  */
class LocalFsSpec extends SparkTestBase {
  import LocalFsSpec.Launch

  private def fresh(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Hadoop's checksummed local filesystem and the new one, each over its
    * own empty directory.
    */
  private def pair(): Seq[(FileSystem, JPath)] = Seq(
    fresh(new LocalFileSystem) -> Files.createTempDirectory("graft-stockfs"),
    fresh(new NioLocalFileSystem) -> Files.createTempDirectory("graft-niofs"))

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def hp(p: JPath): Path = new Path(p.toUri)

  test("files and directories get stock modes under the default umask, " +
      "explicit modes included") {
    val modes = pair().map { case (fs, dir) =>
      val file = dir.resolve("f")
      fs.create(hp(file)).close()
      fs.mkdirs(hp(dir.resolve("a/b")))
      fs.mkdirs(hp(dir.resolve("c")), FsPermission.getDirDefault)
      val created = Seq(file, dir.resolve(".f.crc"), dir.resolve("a"), dir.resolve("a/b"),
        dir.resolve("c")).map(mode)
      val set = Seq(0x1c0, 0x1a0, 0x1ff, 0x124, 0).map { m => // 0700 0640 0777 0444 0000
        fs.setPermission(hp(file), new FsPermission(m.toShort))
        mode(file)
      }
      fs.setPermission(hp(dir.resolve("a")), new FsPermission(0x3ed.toShort)) // 01755
      created ++ set :+ mode(dir.resolve("a"))
    }
    assert(modes.head === modes(1), modes.map(_.map(m => f"0$m%o")))
    assert(modes(1).drop(5) === Seq(0x1c0, 0x1a0, 0x1ff, 0x124, 0, 0x3ed))
  }

  test("a symlink keeps its stock link status, by scheme-less and by " +
      "file: path, and a mode set through it lands on its target") {
    val seen = pair().map { case (fs, dir) =>
      val target = Files.createFile(dir.resolve("target"))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      // Hadoop reads the link of `new File(path.toString)`: a file: path
      // names no file there, so only the scheme-less one reads as a link
      val statuses = Seq(new Path(link.toString), hp(link), hp(target)).map { p =>
        val st = fs.getFileLinkStatus(p)
        (st.isSymlink, if (st.isSymlink) st.getSymlink.toUri.getPath.stripPrefix(dir.toString)
          else "", st.getLen)
      }
      fs.setPermission(hp(link), new FsPermission(0x180.toShort)) // 0600
      (statuses, mode(target))
    }
    assert(seen.head === seen(1))
    assert(seen(1) === ((Seq((true, "/target", 0L), (false, "", 0L), (false, "", 0L)), 0x180)))
  }

  test("a missing path throws FileNotFoundException for its status and link " +
      "status, and an IOException for a mode") {
    pair().foreach { case (fs, dir) =>
      val missing = hp(dir.resolve("missing"))
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[IOException](fs.setPermission(missing, new FsPermission(0x1a4.toShort)))
    }
  }

  test("the session resolves file: to the new classes for FileSystem and " +
      "FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = AbstractFileSystem.get(URI.create("file:///"), conf)
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  /** Every process the JVM started while `body` ran (JFR `jdk.ProcessStart`),
    * with the class name of each frame that started it.
    */
  private def launchesDuring(body: => Unit): Seq[Launch] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempDirectory("graft-jfr").resolve("launches.jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
    } finally rec.close()
    RecordingFile.readAllEvents(dump).asScala.toSeq.map { e =>
      Launch(e.getString("command"),
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName)))
    }
  }

  test("a save, a compactPartitions and a streaming AvailableNow one-shot " +
      "with a checkpoint start no process from Hadoop's Shell") {
    val wh = Files.createTempDirectory("graft-localfs-wh").toString
    val cat = new Catalog(spark, wh)
    val out = Files.createTempDirectory("graft-localfs-out").resolve("agg").toString
    val ckpt = Files.createTempDirectory("graft-localfs-ckpt").toString
    val rows = spark.range(400).select(col("id"), (col("id") % 4).as("p"))
    def leafFiles = Using.resource(Files.list(java.nio.file.Paths.get(s"$wh/t/p=0")))(
      _.iterator.asScala.count(_.getFileName.toString.startsWith("part-")))
    val launches = try launchesDuring {
      cat.save("t", rows.repartition(4), partitionBy = Seq("p"))
      assert(leafFiles > 1)
      cat.compactPartitions("t")
      assert(leafFiles === 1)
      val q = spark.readStream.schema(rows.schema).parquet(s"$wh/t")
        .groupBy("p").count()
        .writeStream.outputMode("complete")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not terminate in time")
      assert(q.exception.isEmpty, q.exception)
      // a launch the recording must see: it is not vacuous
      new ProcessBuilder("true").start().waitFor(): Unit
    } finally cat.close()
    assert(spark.read.parquet(out).count() === 4)
    assert(launches.exists(_.command == "true"), launches)
    val fromShell = launches.filter(_.frames.exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(fromShell.isEmpty,
      s"${fromShell.size} processes started from Hadoop's Shell: " +
        fromShell.map(_.command).distinct.take(5).mkString("; "))
  }
}

object LocalFsSpec {
  final case class Launch(command: String, frames: Seq[String])
}
