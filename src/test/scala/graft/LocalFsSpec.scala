package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.io.{NioLocalFs, NioRawLocalFileSystem, NioRawLocalFs}
import graft.model.RunningBar
import graft.streaming.{KafkaIO, StreamingOhlcv}

/** The NIO local filesystem is registered for both Hadoop APIs, answers
  * `setPermission` and `getFileLinkStatus` exactly as Hadoop's stock
  * `RawLocalFileSystem` does, and takes the checkpoint path of a
  * stateful streaming query off the forked-shell route entirely. */
class LocalFsSpec extends SparkSpec {

  private def withTmpDir[A](f: NioPath => A): A = {
    val dir = Files.createTempDirectory("localfs-spec")
    try f(dir) finally Bench.deleteRecursively(dir.toString)
  }

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("file: resolves to the NIO local filesystem on both Hadoop APIs") {
    val conf = new Configuration()
    val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NioRawLocalFs])
    val fs = FileSystem.getLocal(conf).getRaw
    assert(fs.isInstanceOf[NioRawLocalFileSystem], fs.getClass.getName)
  }

  test("setPermission reads back identically to stock RawLocalFileSystem") {
    withTmpDir { dir =>
      val stock = raw(new RawLocalFileSystem)
      val nio = raw(new NioRawLocalFileSystem)
      def readBack(p: NioPath) = (stock.getFileStatus(new Path(p.toString)).getPermission,
        Files.getPosixFilePermissions(p))
      def check(perm: FsPermission, name: String, create: NioPath => NioPath): Unit = {
        val (a, b) = (create(dir.resolve(s"stock_$name")), create(dir.resolve(s"nio_$name")))
        stock.setPermission(new Path(a.toString), perm)
        nio.setPermission(new Path(b.toString), perm)
        assert(readBack(b) == readBack(a), name)
        assert(readBack(b)._1.toShort == perm.toShort, name)
      }
      for (octal <- Seq("600", "644", "700", "755"))
        check(new FsPermission(octal), octal, Files.createFile(_))
      // FileContext.create hands over its umask-applied mode in this form
      check(FsCreateModes.create(new FsPermission("640"), new FsPermission("666")),
        "create_modes", Files.createFile(_))
      // the sticky bit has no POSIX-set form: Hadoop's own path sets it
      check(new FsPermission("1755"), "sticky", Files.createDirectory(_))
    }
  }

  test("getFileLinkStatus matches stock RawLocalFileSystem on files, dirs and links") {
    withTmpDir { dir =>
      val stock = raw(new RawLocalFileSystem)
      val nio = raw(new NioRawLocalFileSystem)
      val file = dir.resolve("file")
      Files.write(file, "twelve bytes".getBytes("UTF-8"))
      val sub = Files.createDirectory(dir.resolve("sub"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      def view(fs: RawLocalFileSystem, p: Path) =
        try {
          val s = fs.getFileLinkStatus(p)
          Right((s.getPath, s.isFile, s.isDirectory, s.isSymlink,
            if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
            s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
        } catch { case e: IOException => Left(e.getClass) }
      // both the bare and the file:-qualified form of each path: Hadoop
      // resolves links on the path's string form, so the two can differ
      val missing = dir.resolve("missing")
      for (p <- Seq(file, sub, link, dangling, missing); q <- Seq(p.toString, p.toUri.toString)) {
        val path = new Path(q)
        assert(view(nio, path) == view(stock, path), q)
      }
      val bareLink = nio.getFileLinkStatus(new Path(link.toString))
      assert(bareLink.isSymlink && bareLink.getSymlink == new Path(file.toUri))
      assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
      assert(view(nio, new Path(missing.toString)) == Left(classOf[FileNotFoundException]))
    }
  }

  test("checkpointed stateful micro-batches and a restart spawn no Hadoop shell") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one minute-aligned window; event times stay above the watermark,
    // which starts at 0 and drops events at or below it
    val t0 = 28333333L * 60000L
    def trade(ts: Long, price: Double, qty: Long) =
      s"""{"timestamp":${t0 + ts},"instrument_id":"I","product":"P1","price":$price,"qty":$qty}"""
    val input = MemoryStream[String]
    val bars = StreamingOhlcv.statefulBars(
      StreamingOhlcv.withEventTime(KafkaIO.parseTrades(input.toDF())),
      widthMs = 60000L, emitRunning = true)
    val got = mutable.Buffer[RunningBar]()
    withTmpDir { dir =>
      val ckpt = dir.resolve("ckpt").toString
      def start() = bars.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[RunningBar], _: Long) =>
          got.synchronized { got ++= b.collect() }; ()
        }
        .start()
      val recording = new Recording()
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      try {
        val q1 = start()
        try {
          input.addData(trade(0L, 10.0, 1L))
          q1.processAllAvailable()
          input.addData(trade(1000L, 30.0, 2L))
          q1.processAllAvailable()
        } finally q1.stop()
        val q2 = start()
        try {
          input.addData(trade(2000L, 5.0, 3L))
          q2.processAllAvailable()
        } finally q2.stop()
      } finally recording.stop()
      val dump = dir.resolve("spawns.jfr")
      recording.dump(dump)
      recording.close()
      val shellSpawns = RecordingFile.readAllEvents(dump).asScala.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      }.map(_.getString("command"))
      assert(shellSpawns.isEmpty,
        s"${shellSpawns.size} Hadoop shell spawns, first: ${shellSpawns.take(3).mkString("; ")}")
    }
    // the restarted query folds its trade into the checkpointed state
    val last = got.filter(!_.end_of_window).maxBy(_.volume)
    assert((last.open, last.high, last.low, last.close, last.volume) ==
      ((10.0, 30.0, 5.0, 5.0, 6L)))
    assert(got.count(!_.end_of_window) == 3)
  }
}
