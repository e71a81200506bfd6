package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class AtomicFilesSpec extends AnyFunSuite {

  private def freshDir(): Path = Files.createTempDirectory("atomic-files")

  private def tmpFiles(dir: Path): Seq[String] =
    dir.toFile.list().filter(_.startsWith(AtomicFiles.TmpPrefix)).toSeq

  test("replace creates and overwrites a file and leaves no tmp file") {
    val dir = freshDir()
    val f = dir.resolve("CURRENT")
    AtomicFiles.replace(f, "v000000001".getBytes(UTF_8))
    AtomicFiles.replace(f, "v000000002".getBytes(UTF_8))
    assert(new String(Files.readAllBytes(f), UTF_8) == "v000000002")
    assert(tmpFiles(dir).isEmpty)
  }

  test("concurrent writers of one target never share a tmp file") {
    val dir = freshDir()
    val f = dir.resolve("CURRENT")
    val values = (1 to 4).map(t => f"v$t%09d")
    val threads = values.map(v => new Thread(() =>
      (1 to 50).foreach(_ => AtomicFiles.replace(f, v.getBytes(UTF_8)))))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(values.contains(new String(Files.readAllBytes(f), UTF_8)))
    assert(tmpFiles(dir).isEmpty)
  }

  test("readJson: a tree round-trips; missing or malformed reads None") {
    val dir = freshDir()
    val f = dir.resolve("_retain.json")
    assert(AtomicFiles.readJson(f).isEmpty)
    AtomicFiles.replaceJson(f,
      AtomicFiles.Json.createObjectNode().put("retainFromVersion", 7L))
    assert(new String(Files.readAllBytes(f), UTF_8) == """{"retainFromVersion":7}""")
    assert(AtomicFiles.readJson(f).map(_.get("retainFromVersion").asLong).contains(7L))
    Seq("", "{", "nope").foreach { bad =>
      Files.write(f, bad.getBytes(UTF_8))
      assert(AtomicFiles.readJson(f).isEmpty, bad)
    }
  }

  test("swapDir moves next into place and deletes the aside dir") {
    val dir = freshDir()
    val live = Files.createDirectories(dir.resolve("t"))
    Files.write(live.resolve("old"), Array[Byte](1))
    val next = Files.createDirectories(dir.resolve("t.next"))
    Files.write(next.resolve("new"), Array[Byte](2))
    AtomicFiles.swapDir(live, next, dir.resolve("t.trash"))
    assert(live.toFile.list().toSeq == Seq("new"))
    assert(dir.toFile.list().toSeq == Seq("t"))
  }
}
