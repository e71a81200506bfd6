package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.{SparkSuite, Tables}

class ChangelogSpec extends SparkSuite {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-changelog").toString
    ChangelogGenerator.generate(Tables(spark, sfDir).events, d, recordsPerFile = 300)
    d
  }

  test("generator writes %06d-named files + schemas.json") {
    val files = ChangelogFiles.listFiles(dir)
    assert(files.map(_._1) === Seq(1L, 2L, 3L, 4L)) // 1000 events / 300 per file
    assert(files.map(f => ChangelogFiles.recordCount(f._2)).sum === 1000L)
    val schemas = ChangelogFiles.readSchemas(dir)
    assert(schemas.keySet === Set("graft.events"))
    val st = org.apache.spark.sql.types.DataType.fromJson(schemas("graft.events"))
    assert(st.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
      .contains("event_id"))
  }

  test("earliest/latest offsets bracket the log") {
    assert(ChangelogFiles.earliestOffset(dir) === BinlogOffset(1, 1))
    assert(ChangelogFiles.latestOffset(dir) === BinlogOffset(4, 101))
  }

  test("advance walks across file boundaries and clamps at the end") {
    val start = ChangelogFiles.earliestOffset(dir)
    assert(ChangelogFiles.advance(dir, start, 10) === BinlogOffset(1, 11))
    assert(ChangelogFiles.advance(dir, start, 300) === BinlogOffset(1, 301))
    assert(ChangelogFiles.advance(dir, start, 301) === BinlogOffset(2, 2))
    assert(ChangelogFiles.advance(dir, BinlogOffset(1, 250), 100) === BinlogOffset(2, 50))
    assert(ChangelogFiles.advance(dir, start, 100000) === BinlogOffset(4, 101))
  }

  test("readRange honors [from, until) and record order") {
    val f = ChangelogFiles.listFiles(dir).head._2
    val recs = ChangelogFiles.readRange(f, 5, 8).toSeq
    assert(recs.map(_.pos) === Seq(5L, 6L, 7L))
    val all = ChangelogFiles.readRange(f, 1, Long.MaxValue).toSeq
    assert(all.size === 300)
    assert(all.map(_.pos) === (1L to 300L))
    // log order is (ts, event_id)
    assert(all.map(_.tsMillis) === all.map(_.tsMillis).sorted)
  }

  test("record codec round-trips") {
    val f = ChangelogFiles.listFiles(dir).head._2
    val rec = ChangelogFiles.readRange(f, 1, 2).next()
    val back = ChangelogRecord.parse(ChangelogRecord.write(rec))
    assert(back === rec)
    assert(Set("insert", "update", "delete").contains(rec.op))
    assert(rec.row.keySet === Set("event_id", "user_id", "event_type", "value", "props"))
  }

  test("manifest sidecar carries exact per-file lengths and counts") {
    val m = ChangelogFiles.manifest(dir)
    val files = ChangelogFiles.listFiles(dir)
    assert(m.keySet === files.map(_._2.getName).toSet)
    files.foreach { case (_, f) =>
      val e = m(f.getName)
      assert(e.length === f.length())
      assert(e.count === ChangelogFiles.recordCount(f))
      // per-table counts sum to the file count (single-table fixture)
      assert(e.tables === Map("graft.events" -> e.count))
    }
    assert(ChangelogFiles.manifestCount(dir, files.head._2.getName) === Some(300L))
    assert(ChangelogFiles.manifestCount(dir, "graft-bin.999999") === None)
  }

  test("recordCount counts incrementally on append and tolerates blank lines") {
    val d = Files.createTempDirectory("graft-count").toString
    val f = new java.io.File(d, "graft-bin.000001")
    def append(s: String): Unit = {
      val w = new java.io.FileWriter(f, true); w.write(s); w.close()
      // mtime granularity can be 1s; force a visible change
      f.setLastModified(f.lastModified() + 1000)
    }
    append("{\"pos\":1,\"op\":\"insert\",\"db\":\"g\",\"table\":\"t\",\"ts\":1,\"row\":{}}\n")
    assert(ChangelogFiles.recordCount(f) === 1L)
    // blank line consumes a pos in BOTH counting and reading
    append("\n")
    assert(ChangelogFiles.recordCount(f) === 2L)
    append("{\"pos\":3,\"op\":\"insert\",\"db\":\"g\",\"table\":\"t\",\"ts\":3,\"row\":{}}\n")
    assert(ChangelogFiles.recordCount(f) === 3L)
    val recs = ChangelogFiles.readRange(f, 1, 4).toSeq
    assert(recs.map(_.pos) === Seq(1L, 3L)) // blank pos 2 emits nothing
  }

  test("tableCounts: incremental scan stops at the last complete line (concurrent append)") {
    val d = Files.createTempDirectory("graft-tcount").toString
    val f = new java.io.File(d, "graft-bin.000001")
    def rec(table: String, pos: Long): String =
      s"""{"pos":$pos,"op":"insert","db":"g","table":"$table","ts":$pos,"row":{}}"""
    def append(s: String): Unit = {
      val w = new java.io.FileWriter(f, true); w.write(s); w.close()
    }
    append(rec("a", 1) + "\n")
    assert(ChangelogFiles.tableCounts(f) === Map("g.a" -> 1L))
    // a writer mid-append: the partial trailing line must NOT count...
    append(rec("b", 2)) // no newline yet
    assert(ChangelogFiles.tableCounts(f) === Map("g.a" -> 1L))
    // ...and completing it later must count it exactly once
    append("\n" + rec("b", 3) + "\n")
    assert(ChangelogFiles.tableCounts(f) === Map("g.a" -> 1L, "g.b" -> 2L))
    // totals aggregate the same view across the directory
    assert(ChangelogFiles.totalsByTable(d) === Map("g.a" -> 1L, "g.b" -> 2L))
    // and a global offset converts to per-table consumed counts
    assert(ChangelogFiles.tableCountsBefore(d, BinlogOffset(1, 3)) ===
      Map("g.a" -> 1L, "g.b" -> 1L))
  }

  test("readRange never parses an unterminated (torn) trailing line") {
    val d = Files.createTempDirectory("graft-torn").toString
    val f = new java.io.File(d, "graft-bin.000001")
    def rec(pos: Long): String =
      s"""{"pos":$pos,"op":"insert","db":"g","table":"t","ts":$pos,"row":{}}"""
    def append(s: String): Unit = {
      val w = new java.io.FileWriter(f, true); w.write(s); w.close()
    }
    append(rec(1) + "\n")
    append(rec(2).take(20)) // a writer mid-append: truncated JSON, no newline
    val it = ChangelogFiles.readRange(f, 1, Long.MaxValue)
    try assert(it.toSeq.map(_.pos) === Seq(1L)) finally it.close()
    // completing the line makes it visible — exactly once, correct pos
    append(rec(2).drop(20) + "\n")
    val it2 = ChangelogFiles.readRange(f, 1, Long.MaxValue)
    try assert(it2.toSeq.map(_.pos) === Seq(1L, 2L)) finally it2.close()
  }

  test("readRange close() releases the reader before exhaustion") {
    val f = ChangelogFiles.listFiles(dir).head._2
    val it = ChangelogFiles.readRange(f, 1, 100)
    assert(it.hasNext)
    it.close()   // must not throw; double-close safe
    it.close()
  }

  test("AdmissionBudget: idle keys never dilute active ones; shares roll over") {
    // one active table among three idle ones gets the WHOLE budget
    assert(AdmissionBudget.allocate(Seq("a", "b", "c", "d"),
      Map("a" -> 0L, "b" -> 100L, "c" -> 0L, "d" -> 0L), 40L) ===
      Map("a" -> 0L, "b" -> 40L, "c" -> 0L, "d" -> 0L))
    // a small backlog's unused share rolls over to the big one
    assert(AdmissionBudget.allocate(Seq("a", "b"),
      Map("a" -> 3L, "b" -> 100L), 40L) === Map("a" -> 3L, "b" -> 37L))
    // even split when everyone has deep backlog
    assert(AdmissionBudget.allocate(Seq("a", "b"),
      Map("a" -> 100L, "b" -> 100L), 40L) === Map("a" -> 20L, "b" -> 20L))
    // grants never exceed the budget or any backlog
    assert(AdmissionBudget.allocate(Seq("a", "b"),
      Map("a" -> 5L, "b" -> 7L), 100L) === Map("a" -> 5L, "b" -> 7L))
    // over-subscribed (budget < #backlogged keys): earliest keys win,
    // each granted key still progresses by >= 1
    assert(AdmissionBudget.allocate(Seq("a", "b", "c"),
      Map("a" -> 9L, "b" -> 9L, "c" -> 9L), 2L) ===
      Map("a" -> 1L, "b" -> 1L, "c" -> 0L))
    // zero budget / no keys are clean no-ops
    assert(AdmissionBudget.allocate(Seq("a"), Map("a" -> 9L), 0L) === Map("a" -> 0L))
    assert(AdmissionBudget.allocate(Nil, Map.empty[String, Long], 10L) === Map.empty)
  }

  test("countBetween sums record counts across files from metadata") {
    assert(ChangelogFiles.countBetween(dir,
      BinlogOffset(1, 1), ChangelogFiles.latestOffset(dir)) === 1000L)
    assert(ChangelogFiles.countBetween(dir,
      BinlogOffset(1, 251), BinlogOffset(2, 51)) === 100L)
    assert(ChangelogFiles.countBetween(dir,
      BinlogOffset(2, 1), BinlogOffset(2, 1)) === 0L)
  }

  test("listFiles serves a SETTLED dir from cache yet sees every " +
      "structural change and every tail append") {
    val d = Files.createTempDirectory("graft-dirlist").toString
    ChangelogGenerator.generate(Tables(spark, sfDir).events, d,
      recordsPerFile = 500) // 1000 events -> 2 files
    // age the dir past the mtime-granularity guard: the steady-state
    // shape of a long-lived log (files exist, none created just now)
    def age(): Unit = java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(d),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000L))
    age()
    val first = ChangelogFiles.listFiles(d)
    assert(first.map(_._1) === Seq(1L, 2L))
    // an unchanged settled dir is a pure cache hit (same instance —
    // no enumeration, no per-file stats)
    assert(ChangelogFiles.listFiles(d) eq first)
    // appends to the live tail do NOT invalidate the listing (the dir
    // mtime is untouched) and MUST still advance the offset — the
    // listing is files-identity, recordCount is content
    val before = ChangelogFiles.latestOffset(d)
    val tail = first.last._2
    val out = new java.io.FileOutputStream(tail, true)
    try out.write(
      (ChangelogRecord.write(ChangelogRecord(0L, "insert", "graft",
        "events", 1L, Map("event_id" -> EnvelopeValue.VString("x")))) + "\n")
        .getBytes("UTF-8"))
    finally out.close()
    assert(ChangelogFiles.listFiles(d) eq first)
    val after = ChangelogFiles.latestOffset(d)
    assert(after.pos === before.pos + 1, s"$before -> $after")
    // a NEW file bumps the dir mtime: the next listing sees it even
    // from the settled state
    val f3 = new java.io.File(d, "graft-bin.000003")
    java.nio.file.Files.copy(first.head._2.toPath, f3.toPath)
    assert(ChangelogFiles.listFiles(d).map(_._1) === Seq(1L, 2L, 3L))
    // deletion is a structural change too
    assert(f3.delete())
    assert(ChangelogFiles.listFiles(d).map(_._1) === Seq(1L, 2L))
  }

  // ---- the block line scanner under readRange, forEachCompleteLine and
  // recordCount: each case pins the (pos, record) sequence, lines and
  // counts that the byte-at-a-time reader gave on the same bytes.
  // Blocks are 64 KiB, so offset 65536 is the first block boundary.

  private val Block = 65536

  /** A record line whose JSON pos and ts are `pos`; `s` is its one cell. */
  private def rec(pos: Long, s: String = ""): String =
    s"""{"pos":$pos,"op":"insert","db":"g","table":"t","ts":$pos,"row":{"s":"$s"}}"""

  private def record(pos: Long, s: String = ""): ChangelogRecord =
    ChangelogRecord(pos, "insert", "g", "t", pos, Map("s" -> EnvelopeValue.VString(s)))

  private def logOf(text: String): java.io.File = {
    val f = new java.io.File(
      Files.createTempDirectory("graft-scan").toFile, "graft-bin.000001")
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
    f
  }

  private def served(f: java.io.File, from: Long = 1L,
      until: Long = Long.MaxValue, seekBytes: Long = -1L,
      seekPos: Long = 1L): Seq[ChangelogRecord] = {
    val it = ChangelogFiles.readRange(f, from, until, seekBytes, seekPos)
    try it.toList finally it.close()
  }

  /** forEachCompleteLine over the whole file: (lines, consumed). */
  private def lines(f: java.io.File): (Seq[String], Long) = {
    val b = Seq.newBuilder[String]
    val consumed = ChangelogFiles.forEachCompleteLine(f, 0L, f.length())(b += _)
    (b.result(), consumed)
  }

  test("scanner: a line longer than 64 KiB is served whole") {
    val long = "x" * 200000
    val f = logOf(Seq(rec(1), rec(2, long), rec(3)).mkString("", "\n", "\n"))
    assert(served(f) === Seq(record(1), record(2, long), record(3)))
    assert(served(f, from = 3) === Seq(record(3)))
    assert(served(f, from = 2, until = 3) === Seq(record(2, long)))
    assert(ChangelogFiles.recordCount(f) === 3L)
    assert(lines(f) === ((Seq(rec(1), rec(2, long), rec(3)), f.length())))
  }

  test("scanner: a multi-byte UTF-8 character across a block boundary") {
    // the value of line 2 starts at byte `at`; pad it so a 3-byte '€'
    // covers bytes 65535..65537, then a 4-byte emoji follows
    val at = rec(1).length + 1 + rec(2).length - 3
    val s = "a" * (Block - 1 - at) + "€" + "😀" + "b"
    val f = logOf(Seq(rec(1), rec(2, s), rec(3)).mkString("", "\n", "\n"))
    assert(rec(1, "").length + 1 + rec(2, s).indexOf('€') === Block - 1)
    assert(served(f) === Seq(record(1), record(2, s), record(3)))
    assert(served(f, from = 3) === Seq(record(3)))
    assert(lines(f)._1 === Seq(rec(1), rec(2, s), rec(3)))
  }

  test("scanner: a blank line consumes its pos and emits nothing") {
    val f = logOf(rec(1) + "\n\n" + rec(3) + "\n\n\n" + rec(6) + "\n")
    assert(served(f) === Seq(record(1), record(3), record(6)))
    assert(served(f, 2, 4) === Seq(record(3)))
    assert(served(f, 4, 6) === Nil)
    assert(served(f, 6) === Seq(record(6)))
    assert(ChangelogFiles.recordCount(f) === 6L)
    assert(lines(f)._1 === Seq(rec(1), "", rec(3), "", "", rec(6)))
  }

  test("scanner: a '\\r' before '\\n' is kept as line content") {
    val f = logOf(rec(1) + "\r\n" + rec(2) + "\r\n")
    assert(served(f) === Seq(record(1), record(2)))
    assert(lines(f) === ((Seq(rec(1) + "\r", rec(2) + "\r"), f.length())))
    assert(ChangelogFiles.recordCount(f) === 2L)
  }

  test("scanner: a torn tail is never served, at a block boundary or inside a block") {
    // complete lines end exactly at the block boundary
    val first = rec(1, "a" * (Block - 1 - rec(1).length))
    val atBoundary = logOf(first + "\n" + rec(2).take(20))
    assert(served(atBoundary) === Seq(record(1, "a" * (Block - 1 - rec(1).length))))
    assert(ChangelogFiles.recordCount(atBoundary) === 1L)
    assert(lines(atBoundary) === ((Seq(first), Block.toLong)))
    // the torn line runs across the boundary
    val across = logOf(rec(1) + "\n" + rec(2, "b" * 70000).take(66000))
    assert(served(across) === Seq(record(1)))
    assert(ChangelogFiles.recordCount(across) === 1L)
    assert(lines(across) === ((Seq(rec(1)), rec(1).length + 1L)))
    // the torn line ends inside the first block
    val inside = logOf(rec(1) + "\n" + rec(2) + "\n" + rec(3).take(30))
    assert(served(inside) === Seq(record(1), record(2)))
    assert(served(inside, from = 3) === Nil)
    assert(ChangelogFiles.recordCount(inside) === 2L)
    assert(lines(inside) ===
      ((Seq(rec(1), rec(2)), rec(1).length + rec(2).length + 2L)))
  }

  private def padded(i: Int): String = rec(i, "p" * (i % 37))

  test("scanner: fromPos in a later block") {
    val f = logOf((1 to 3000).map(padded).mkString("", "\n", "\n"))
    assert(f.length() > 3L * Block)
    assert(served(f, 2500, 2503) ===
      (2500 to 2502).map(i => record(i, "p" * (i % 37))))
    assert(served(f, 2999) === (2999 to 3000).map(i => record(i, "p" * (i % 37))))
    assert(ChangelogFiles.recordCount(f) === 3000L)
  }

  test("scanner: nothing at or past untilPos is parsed, and the reader ends there") {
    // line 6 is not a record: parsing it throws
    val f = logOf((1 to 5).map(rec(_)).mkString("", "\n", "\n") +
      "not a record\n" + rec(7) + "\n")
    val it = ChangelogFiles.readRange(f, 1, 6)
    assert(it.toList === (1 to 5).map(record(_)))
    assert(!it.hasNext)
    assert(served(f, 3, 6) === (3 to 5).map(record(_)))
    assert(served(f, 5, 6) === Seq(record(5)))
    intercept[Exception](served(f, 1, 7))
  }

  test("scanner: a mid-file seekBytes start") {
    val all = (1 to 2000).map(padded)
    val f = logOf(all.mkString("", "\n", "\n"))
    val startOf = all.scanLeft(0L)(_ + _.length + 1) // startOf(i - 1): line i
    assert(served(f, 1500, 1504, seekBytes = startOf(1399), seekPos = 1400) ===
      (1500 to 1503).map(i => record(i, "p" * (i % 37))))
    assert(served(f, 1400, 1402, seekBytes = startOf(1399), seekPos = 1400) ===
      (1400 to 1401).map(i => record(i, "p" * (i % 37))))
    assert(served(f, 1999, seekBytes = startOf(1997), seekPos = 1998) ===
      (1999 to 2000).map(i => record(i, "p" * (i % 37))))
  }

  test("scanner: an empty file") {
    val f = logOf("")
    assert(served(f) === Nil)
    assert(ChangelogFiles.recordCount(f) === 0L)
    assert(lines(f) === ((Nil, 0L)))
  }

  test("scanner: consumed offsets and incremental counts on an appended file") {
    val f = logOf("")
    val text = (1 to 4000).map(i => rec(i, "r" * (i % 53))).mkString("", "\n", "\n")
    val rnd = new scala.util.Random(7)
    var at = 0
    var consumed = 0L
    var seen = 0
    while (at < text.length) {
      val n = math.min(text.length - at, 1 + rnd.nextInt(90000))
      Files.write(f.toPath, text.substring(at, at + n).getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      at += n
      val written = text.substring(0, at)
      val complete = written.count(_ == '\n')
      assert(ChangelogFiles.recordCount(f) === complete.toLong)
      consumed = ChangelogFiles.forEachCompleteLine(f, consumed, f.length())(_ => seen += 1)
      assert(consumed === written.lastIndexOf('\n') + 1L)
      assert(seen === complete)
    }
    assert(served(f).size === 4000)
  }
}
