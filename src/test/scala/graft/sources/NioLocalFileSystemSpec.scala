package graft.sources

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The session's `file:` filesystem: the engine's paths get
  * [[NioLocalFileSystem]], its writes start no `chmod` process, the
  * modes it sets are the ones Hadoop's own local filesystem sets, and
  * it is still checksummed. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def sessionFs(dir: NioPath): FileSystem =
    new Path(dir.toUri).getFileSystem(conf)

  /** A filesystem built directly, not taken from Hadoop's cache. */
  private def direct[F <: FileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  /** Ours, and Hadoop's stock local filesystems to compare it with. */
  private lazy val nio = direct(new NioLocalFileSystem)
  private lazy val stockRaw = direct(new RawLocalFileSystem)
  private lazy val stockLocal = direct(new LocalFileSystem)

  /** The full `st_mode` permission part: rwx plus set-id and sticky. */
  private def modeBits(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  private def perms(p: NioPath): Set[PosixFilePermission] =
    Files.getPosixFilePermissions(p).asScala.toSet

  private def hpath(p: NioPath): Path = new Path(p.toUri)

  test("the engine's file: paths get NioLocalFileSystem") {
    val fs = new Path("file:///tmp").getFileSystem(conf)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.getClass ===
      classOf[NioLocalFileSystem.Raw])
    assert(FileSystem.getLocal(conf) eq fs)
    val dir = Files.createTempDirectory("graft-nio-fs")
    assert(sessionFs(dir) eq fs)
  }

  test("a Spark append and a driver-side row append under the dir lock start no chmod") {
    val root = Files.createTempDirectory("graft-nio-chmod")
    val sidecar = root.resolve("side").toString
    val rows = root.resolve("rows").toString
    val schema = new StructType().add("w", StringType).add("cnt", LongType)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      TaggedSidecar.append(spark, sidecar, Some("b0"), "spec") {
        val s = spark; import s.implicits._
        Seq(("a", 1L), ("b", 2L)).toDF("w", "cnt").repartition(2)
      }
      Sinks.withDirLock(spark, rows, "spec") {
        Sinks.appendRowDriverSide(spark, rows, schema, Row("c", 3L))
      }
      // a control: the recording sees a process started naming the dir
      assert(new ProcessBuilder("true", root.toString).start().waitFor() === 0)
    } finally rec.stop()
    val jfr = root.resolve("rec.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(_.contains(root.toString))
    assert(commands.count(_.startsWith("true ")) === 1, commands)
    assert(commands.filter(_.startsWith("chmod")) === Nil)
    assert(spark.read.parquet(sidecar).count() === 2)
    assert(Sinks.readParquet(spark, rows).collect().toSeq === Seq(Row("c", 3L)))
  }

  test("setPermission gives the modes Hadoop's RawLocalFileSystem gives, on files and dirs") {
    val root = Files.createTempDirectory("graft-nio-modes")
    val grid = Seq(0x000, 0x049, 0x092, 0x100, 0x124, 0x180, 0x1A4, 0x1C0,
      0x1ED, 0x1FF) // 0000 0111 0222 0400 0444 0600 0644 0700 0755 0777
    for (mode <- grid; dir <- Seq(false, true)) {
      val name = f"${if (dir) "d" else "f"}$mode%04o"
      val ours = root.resolve(s"ours-$name")
      val stock = root.resolve(s"stock-$name")
      Seq(ours, stock).foreach(p =>
        if (dir) Files.createDirectory(p) else Files.createFile(p))
      nio.setPermission(hpath(ours), new FsPermission(mode.toShort))
      stockRaw.setPermission(hpath(stock), new FsPermission(mode.toShort))
      assert(modeBits(ours) === mode, name)
      assert(modeBits(ours) === modeBits(stock), name)
      assert(perms(ours) === perms(stock), name)
      assert(perms(ours) === PosixFilePermissions.fromString(
        new FsPermission(mode.toShort).toString).asScala.toSet, name)
    }
    // a sticky bit, which a PosixFilePermission set cannot carry
    val sticky = Seq("ours-sticky", "stock-sticky").map(n =>
      Files.createDirectory(root.resolve(n)))
    nio.setPermission(hpath(sticky(0)), new FsPermission(0x3FF.toShort))
    stockRaw.setPermission(hpath(sticky(1)), new FsPermission(0x3FF.toShort))
    assert(modeBits(sticky(0)) === 0x3FF) // 1777
    assert(modeBits(sticky(0)) === modeBits(sticky(1)))
    // a numeric chmod keeps a dir's set-group-ID bit
    val setgid = Seq("ours-setgid", "stock-setgid").map { n =>
      val d = Files.createDirectory(root.resolve(n))
      assert(new ProcessBuilder("chmod", "2755", d.toString).start()
        .waitFor() === 0)
      d
    }
    nio.setPermission(hpath(setgid(0)), new FsPermission(0x1C0.toShort))
    stockRaw.setPermission(hpath(setgid(1)), new FsPermission(0x1C0.toShort))
    assert(modeBits(setgid(0)) === 0x5C0) // 2700
    assert(modeBits(setgid(0)) === modeBits(setgid(1)))
  }

  test("create and mkdirs give Hadoop's LocalFileSystem modes under the default umask") {
    val root = Files.createTempDirectory("graft-nio-umask")
    def made(f: FileSystem, side: String): Seq[Int] = {
      val dir = new Path(hpath(root), s"$side-dir")
      assert(f.mkdirs(dir))
      val wide = new Path(hpath(root), s"$side-wide")
      assert(f.mkdirs(wide, new FsPermission(0x1FF.toShort)))
      val file = new Path(dir, "data")
      val out = f.create(file)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      Seq(s"$side-dir", s"$side-wide", s"$side-dir/data", s"$side-dir/.data.crc")
        .map(n => modeBits(root.resolve(n)))
    }
    val ours = made(nio, "ours")
    assert(ours === made(stockLocal, "stock"))
    val umask = FsPermission.getUMask(conf).toShort
    assert(ours === Seq(0x1FF, 0x1FF, 0x1B6, 0x1B6).map(_ & ~umask))
  }

  test("a Spark append through the session filesystem is checksummed: every part file has its .crc, and a flipped byte fails the read") {
    val dir = Files.createTempDirectory("graft-nio-crc").resolve("side")
    val s = spark; import s.implicits._
    (1 to 2).foreach { i =>
      (1 to 500).map(n => (n.toLong * i, s"v$n")).toDF("k", "v").repartition(3)
        .write.mode("append").parquet(dir.toString)
    }
    val fs = sessionFs(dir)
    // the checksummed listing hides the .crc files; list the raw dir
    val listing = Files.list(dir)
    val names =
      try listing.iterator.asScala.map(_.getFileName.toString).toSet
      finally listing.close()
    val parts = names.filter(_.startsWith("part-"))
    assert(parts.size === 6, names)
    parts.foreach(p => assert(names.contains(s".$p.crc"), names))
    assert(names.contains("._SUCCESS.crc"), names)

    val part = hpath(dir.resolve(parts.min))
    def readAll(): Unit = {
      val in = fs.open(part)
      try in.readAllBytes() finally in.close()
    }
    readAll()
    val raf = new java.io.RandomAccessFile(dir.resolve(parts.min).toFile, "rw")
    try {
      raf.seek(8)
      val b = raf.read()
      raf.seek(8)
      raf.write(b ^ 0xFF)
    } finally raf.close()
    intercept[ChecksumException](readAll())
  }
}
