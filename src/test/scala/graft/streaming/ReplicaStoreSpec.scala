package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** [[ReplicaStore]] is the one owner of the store's on-disk commit
  * protocol: no other main source spells a version name, the commit
  * lock, a staging dir or the CURRENT pointer, and a commit that fails
  * before it publishes leaves neither a staging dir nor a moved pointer.
  */
class ReplicaStoreSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  /** `src/main/scala` of this checkout, from the test's working dir up. */
  private def mainSources: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(p => Files.exists(p.resolve("graft/streaming/ReplicaStore.scala")))
      .getOrElse(fail("src/main/scala not found above " + sys.props("user.dir")))

  /** The store-format spellings only [[ReplicaStore]] may contain. */
  private val formatSpellings = Seq(
    "%09d" -> "a zero-padded version name",
    "v[0-9]{9}" -> "a version-dir name scan",
    "\".commit-lock" -> "the commit lock file",
    "\".staging-" -> "a staging dir name",
    "\"CURRENT\"" -> "the store pointer file")

  test("no main source but ReplicaStore spells the store's on-disk format") {
    val root = mainSources
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"only ${files.size} sources under $root")
    val owner = root.resolve("graft/streaming/ReplicaStore.scala")
    val ownerText = Files.readString(owner)
    // the scan itself works: the owner holds every spelling
    formatSpellings.foreach { case (s, what) =>
      assert(ownerText.contains(s), s"ReplicaStore no longer spells $what")
    }
    val offenders = for {
      f <- files if f != owner
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      (s, what) <- formatSpellings if line.contains(s)
    } yield s"${root.relativize(f)}:${n + 1}: $what ($s)"
    assert(offenders.isEmpty,
      "store-format spellings outside ReplicaStore — go through its " +
        s"helpers instead:\n${offenders.mkString("\n")}")
  }

  private final class InjectedStageFailure
      extends RuntimeException("injected stage failure")

  private def commit(dir: String, rows: Seq[(Long, String, Long, String)],
      rec: Boolean = false): Unit =
    CdcStream.applyBatchToReplica(dir, rows.toDF("id", "v", "seq", "op"),
      Seq("id"), Seq(col("seq")), numBuckets = 4, recordChanges = rec)

  private def stagingDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(".staging-")).toSeq

  test("a commit that fails at its stage point leaves no staging dir and " +
      "CURRENT where it was: compact, erase, rebucket, restore") {
    val ops: Seq[(String, String => Unit)] = Seq(
      "compact" -> (d => CdcStream.compactReplica(spark, d)),
      "erase" -> (d => CdcStream.eraseKeys(spark, d, Seq("id"),
        Seq(1L).toDF("id"))),
      "rebucket" -> (d => CdcStream.rebucketReplica(spark, d, Seq("id"), 8)),
      "restore" -> (d => CdcStream.restoreReplica(spark, d, 1L)))
    ops.foreach { case (name, op) =>
      val dir = Files.createTempDirectory(s"store-stage-$name").toString
      commit(dir, Seq((1L, "a", 1L, "update"), (2L, "b", 1L, "update"),
        (3L, "c", 1L, "update")))
      commit(dir, Seq((1L, "a2", 2L, "update"), (4L, "d", 2L, "update")))
      val before = CdcStream.replicaCurrentVersion(dir)
      val armed = CommitFaults.arm(dir, 1, CommitFaults.Stage)(
        throw new InjectedStageFailure)
      try intercept[InjectedStageFailure](op(dir))
      finally armed.disarm()
      assert(armed.fired, s"$name: never reached its stage point")
      assert(stagingDirs(dir).isEmpty, s"$name left ${stagingDirs(dir)}")
      assert(CdcStream.replicaCurrentVersion(dir) == before, name)
      // the store still commits: the failure left nothing to trip over
      op(dir)
      assert(CdcStream.replicaCurrentVersion(dir) == before.map(_ + 1), name)
      assert(stagingDirs(dir).isEmpty, name)
    }
  }

  test("a CURRENT that names a missing version dir is refused by every " +
      "entry point, and no version dir is touched") {
    val dir = Files.createTempDirectory("dangling").toString
    def merge(rows: Seq[(Long, String, Long, String)], defer: Boolean = false): Unit =
      CdcStream.applyBatchToReplica(dir, rows.toDF("id", "v", "seq", "op"),
        Seq("id"), Seq(col("seq")), numBuckets = 4, deferMerge = defer)
    merge(Seq((1L, "a", 1L, "update"), (2L, "b", 1L, "update")))
    merge(Seq((3L, "c", 2L, "update"), (4L, "d", 2L, "update")))
    merge(Seq((5L, "e", 3L, "update"), (6L, "f", 3L, "update")))
    assert(CdcStream.readReplica(spark, dir).get.count() == 6)
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(dir, "v000000003").toFile)
    // every file under a version dir, with its size and mtime
    def versionFiles(): Map[String, (Long, Long)] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          dir.length < p.toString.length &&
          Paths.get(dir).relativize(p).getName(0).toString.matches("v[0-9]{9}"))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
    val before = versionFiles()
    assert(before.nonEmpty)
    val keys = Seq(1L).toDF("id")
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    Seq[(String, () => Any)](
      "read" -> (() => CdcStream.readReplica(spark, dir)),
      "keyed read" -> (() => CdcStream.readReplicaForKeys(spark, dir, Seq("id"), keys)),
      "eager merge" -> (() => merge(Seq((7L, "g", 4L, "update")))),
      "deferred merge" -> (() => merge(Seq((7L, "g", 4L, "update")), defer = true)),
      "compact" -> (() => CdcStream.compactReplica(spark, dir)),
      "erase" -> (() => CdcStream.eraseKeys(spark, dir, Seq("id"), keys)),
      "restore" -> (() => CdcStream.restoreReplica(spark, dir, 2L))
    ).foreach { case (what, run) =>
      val e = intercept[Exception](run())
      assert(chain(e).exists(c => c.isInstanceOf[ReplicaStore.DanglingCurrentException] &&
        c.getMessage.contains("v000000003") && c.getMessage.contains("fsckReplica")),
        s"$what: $e")
      assert(versionFiles() == before, s"$what touched a version dir")
    }
    val pointer = CdcStream.fsckReplica(spark, dir)
      .filter($"check" === "current_pointer").collect()
    assert(pointer.map(_.getString(2)).toSeq == Seq("v000000003"))
    assert(pointer.head.getString(3).contains("does not exist"))
    // a store that was never written still reads as None
    val never = Files.createTempDirectory("never").toString
    assert(CdcStream.readReplica(spark, never).isEmpty)
    assert(CdcStream.replicaCurrentVersion(never).isEmpty)
  }
}
