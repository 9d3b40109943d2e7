package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader

import graft.pipelines.FxPipeline
import graft.sources.{CleanZone, InProcessLocalFileSystem, InProcessRawLocalFileSystem, SourceGuard}

class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def raw(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** The command lines of the `chmod` and `ls` processes `body` starts. */
  private def shellSpawns(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("spawns", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(_.matches("""^(\S*/)?(chmod|ls)(\s.*)?$"""))
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  test("in-process setPermission matches the stock RawLocalFileSystem bit for bit") {
    val root = Files.createTempDirectory("localfs-parity")
    for (umask <- Seq("022", "077"); perm <- Seq("755", "750", "700", "644", "600", "777").map(octal)) {
      val fsPerm = new FsPermission(perm.toShort)
      val results = Seq("stock" -> raw(new RawLocalFileSystem, umask),
          "graft" -> raw(new InProcessRawLocalFileSystem, umask)).map { case (name, fs) =>
        val parent = Files.createDirectory(root.resolve(s"$name-$umask-${perm.toOctalString}"))
        val dir = parent.resolve("dir")
        val file = parent.resolve("part-0")
        val chmodded = Files.createFile(parent.resolve("part-1"))
        assert(fs.mkdirs(new Path(dir.toUri), fsPerm))
        fs.create(new Path(file.toUri), fsPerm, false, 4096, 1.toShort, 1L << 20, null).close()
        fs.setPermission(new Path(chmodded.toUri), fsPerm)
        (mode(dir), mode(file), mode(chmodded))
      }
      assert(results.head == results(1),
        f"umask $umask perm $perm%o: stock (dir, create, chmod) ${results.head} vs graft ${results(1)}")
      assert(results(1)._3 == perm)
    }
    // the sticky bit is beyond NIO and takes the stock path
    val sticky = Files.createDirectory(root.resolve("sticky"))
    raw(new InProcessRawLocalFileSystem, "022")
      .setPermission(new Path(sticky.toUri), new FsPermission(octal("1777").toShort))
    assert(mode(sticky) == octal("1777"), f"sticky dir mode ${mode(sticky)}%o")
  }

  test("graft sessions resolve file:// to the in-process file system") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(hadoopConf.get("fs.file.impl") ==
      GraftSession.LocalFileSystemConf("spark.hadoop.fs.file.impl"))
    // FileSystem.get is cached per scheme, authority and user, not per
    // class: a stock instance cached earlier in this JVM would win here
    for (fs <- Seq(FileSystem.get(URI.create("file:///"), hadoopConf),
                   new Path(Files.createTempDirectory("localfs").toUri).getFileSystem(hadoopConf)))
      assert(fs.isInstanceOf[InProcessLocalFileSystem], s"resolved ${fs.getClass.getName}")
  }

  test("graft's write paths start no chmod or ls process") {
    // control: the recording sees the stock method's spawns wherever
    // Hadoop's native library is absent
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      val f = Files.createTempFile("stock-chmod", "")
      val stock = shellSpawns(raw(new RawLocalFileSystem, "022")
        .setPermission(new Path(f.toUri), new FsPermission(octal("644").toShort)))
      assert(stock.exists(_.contains("chmod")), s"control saw no chmod: $stock")
    }
    val root = Files.createTempDirectory("localfs-spawns")
    val raw0 = root.resolve("raw/snapshot_date=2026-01-01/batch=1")
    Files.createDirectories(raw0)
    Files.writeString(raw0.resolve("part1.json"), """{"product_id": 1}""")
    Files.writeString(raw0.resolve("empty.json"), "")
    var nonEmpty = -1
    val spawns = shellSpawns {
      CleanZone.writePartitioned(
        Seq((1L, "2026-01-01"), (2L, "2026-01-02")).toDF("id", "snapshot_date"),
        root.resolve("fact").toString, Seq("snapshot_date"))
      // the second run merges into the first and swaps the staged table in
      FxPipeline.run(spark, Some(25000.0), "2026-01-01", root.resolve("fx").toString)
      FxPipeline.run(spark, Some(25100.0), "2026-01-02", root.resolve("fx").toString)
      nonEmpty = SourceGuard.requireNonEmpty(spark, root.resolve("raw").toString, ".json")
    }
    assert(spawns.size == 0, s"spawns: ${spawns.take(5).mkString("; ")}")
    assert(nonEmpty == 1)
    assert(spark.read.parquet(root.resolve("fx").toString).count() == 2)
  }
}
