package graft.io

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}

import graft.SparkSuite
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException,
  FSDataInputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

/** graft's `file://` stack: installed in every session, the same
  * permission bits and checksums as the stock local FS, and used by
  * the streaming checkpoint manager.
  */
class LocalFsSpec extends SparkSuite {
  private val fileUri = URI.create("file:///")

  private def withTempDir(f: File => Unit): Unit = {
    val d = Files.createTempDirectory("graft-localfs").toFile
    try f(d) finally FileUtils.deleteQuietly(d)
  }

  /** A fresh, uncached instance of `fs` under `umask`. */
  private def init[F <: FileSystem](fs: F, umask: String): F = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    fs.initialize(fileUri, c)
    fs
  }

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def bits(f: File) = Files.getPosixFilePermissions(f.toPath)

  private def unixMode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("the shared session resolves both file:// sides to the graft classes") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(fileUri, conf).getClass == classOf[GraftLocalFileSystem])
    assert(AbstractFileSystem.get(fileUri, conf).getClass == classOf[GraftLocalFs])
  }

  test("created files and mkdirs chains carry the stock permission bits") {
    withTempDir { root =>
      for (umask <- Seq("022", "027"); mode <- Seq("644", "640", "755", "700")) {
        val stock = init(new LocalFileSystem(new RawLocalFileSystem), umask)
        val nio = init(new GraftLocalFileSystem, umask)
        val expected = NioRawLocalFileSystem.posixBits(
          octal(mode).applyUMask(octal(umask)))
        val sides = Seq("stock" -> stock, "graft" -> nio).map { case (side, fs) =>
          val base = new File(root, s"$side-$mode-$umask")
          fs.create(new Path(base.toURI.toString + "/f"), octal(mode), false,
            4096, 1.toShort, 1L << 20, null).close()
          assert(fs.mkdirs(new Path(base.toURI.toString + "/a/b/c"), octal(mode)))
          Seq("f", ".f.crc", "a", "a/b", "a/b/c").map(r => r -> bits(new File(base, r)))
        }
        assert(sides(1) == sides(0), s"mode $mode umask $umask")
        assert(sides(1).head._2 == expected, s"mode $mode umask $umask")
        stock.close(); nio.close()
      }
    }
  }

  test(".crc side files are written and a flipped byte fails the read") {
    withTempDir { root =>
      val fs = init(new GraftLocalFileSystem {
        // a reported failure moves the bad file to a bad_files dir at
        // the device root: keep the test inside its temp dir
        override def reportChecksumFailure(p: Path, in: FSDataInputStream,
            inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean =
          false
      }, "022")
      val p = new Path(new File(root, "data.bin").toURI.toString)
      val out = fs.create(p)
      out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
      assert(new File(root, ".data.bin.crc").length() > 0)
      val raf = new RandomAccessFile(new File(root, "data.bin"), "rw")
      try { raf.seek(1000); raf.write(raf.readByte() ^ 0xff) } finally raf.close()
      intercept[ChecksumException] {
        val in = fs.open(p)
        try in.readFully(new Array[Byte](4096)) finally in.close()
      }
      fs.close()
    }
  }

  test("a sticky-bit mode still applies; a missing path throws") {
    withTempDir { root =>
      val stock = init(new LocalFileSystem(new RawLocalFileSystem), "022")
      val nio = init(new GraftLocalFileSystem, "022")
      for ((side, fs) <- Seq("stock" -> stock, "graft" -> nio)) {
        val d = new File(root, side); assert(d.mkdir())
        fs.setPermission(new Path(d.toURI.toString), octal("1750"))
        assert(unixMode(d) == Integer.parseInt("1750", 8), side)
      }
      val missing = new Path(new File(root, "missing").toURI.toString)
      val e = intercept[java.io.IOException](
        stock.getRawFileSystem.setPermission(missing, octal("644")))
      assert(e.getMessage.contains("No such file"), e.getMessage)
      intercept[FileNotFoundException](
        nio.getRawFileSystem.setPermission(missing, octal("644")))
      stock.close(); nio.close()
    }
  }

  test("link status matches stock on files, dirs, symlinks, missing paths") {
    withTempDir { root =>
      val stock = init(new RawLocalFileSystem, "022")
      val nio = init(new NioRawLocalFileSystem, "022")
      val file = new File(root, "f")
      Files.write(file.toPath, "data".getBytes)
      val dir = new File(root, "d"); assert(dir.mkdir())
      val link = new File(root, "l")
      Files.createSymbolicLink(link.toPath, file.toPath)
      val dangling = new File(root, "dl")
      Files.createSymbolicLink(dangling.toPath, new File(root, "gone").toPath)
      def status(fs: RawLocalFileSystem, p: Path) =
        try {
          val s = fs.getFileLinkStatus(p)
          Some((s.getPath, s.isDirectory, s.isSymlink,
            if (s.isSymlink) s.getSymlink else null, s.getLen,
            s.getPermission, s.getOwner, s.getGroup, s.getModificationTime))
        } catch { case _: FileNotFoundException => None }
      // both path forms: stock reads a scheme-qualified path as no link
      // (so a qualified dangling link is missing, like a missing path)
      for (f <- Seq(file, dir, link, dangling, new File(root, "missing"));
           p <- Seq(new Path(f.getPath), new Path(f.toURI.toString)))
        assert(status(nio, p) == status(stock, p), p)
      assert(status(nio, new Path(link.getPath)).exists(_._3))
      assert(status(nio, new Path(dangling.getPath)).exists(_._3))
      assert(status(nio, new Path(new File(root, "missing").getPath)).isEmpty)
      stock.close(); nio.close()
    }
  }

  test("streaming checkpoint offsets/ and commits/ are written through GraftLocalFs") {
    withTempDir { root =>
      val in = new File(root, "in").toString
      val ck = new File(root, "ck")
      spark.range(10).write.parquet(in)
      val q = spark.readStream.schema(spark.read.parquet(in).schema)
        .parquet(in).writeStream.format("noop")
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val exec = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery
      for (log <- Seq(exec.offsetLog, exec.commitLog)) {
        // fileManager is protected and its FileContext private: read
        // them reflectively to see which AbstractFileSystem wrote
        val mgr = log.getClass.getMethod("fileManager").invoke(log)
        val fcField = Iterator.iterate[Class[_]](mgr.getClass)(_.getSuperclass)
          .takeWhile(_ != null).flatMap(_.getDeclaredFields).find(_.getName == "fc")
          .getOrElse(fail(s"${mgr.getClass} has no FileContext"))
        fcField.setAccessible(true)
        val fc = fcField.get(mgr).asInstanceOf[org.apache.hadoop.fs.FileContext]
        assert(fc.getDefaultFileSystem.getClass == classOf[GraftLocalFs])
      }
      for (d <- Seq("offsets", "commits")) {
        assert(Files.exists(Paths.get(ck.toString, d, "0")), d)
        assert(Files.exists(Paths.get(ck.toString, d, ".0.crc")), d)
      }
    }
  }
}
