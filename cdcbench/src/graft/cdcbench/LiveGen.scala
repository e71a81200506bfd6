package graft.cdcbench

import java.io.File

/** The open-loop load generator of `binlog_gsi_live`, run as its own
  * process: it appends the seeded event stream to a live binlog
  * directory at a fixed rate, on a schedule that does not slow down
  * when the pipeline does. Event `i` is due at `t0 + i / rate`, is
  * stamped with that due time as its `ts_ms`, and is written as soon as
  * the generator reaches it; how late it ran is reported at the end.
  *
  * Protocol on stdout: `t0 <epoch ms>` once the schedule starts, then
  * `done <events> <late p50 ms> <late tail ms> <next file id>` after
  * the last write.
  *
  * Args: dir seed keys zipfS deleteShare payloadWidth rate seconds
  *       skip rollEvents firstFileId
  */
object LiveGen {
  def main(args: Array[String]): Unit = {
    val Array(dir, seed, keys, zipfS, del, width, rate, seconds, skip, roll,
      firstFile) = args
    val gen = new EventGen(seed.toLong,
      Shape(keys.toInt, zipfS.toDouble, del.toDouble, width.toInt))
    // the first `skip` events were written during set-up; regenerate
    // them so the key state continues exactly where set-up left it
    (0 until skip.toInt).foreach(_ => gen.next())
    val n = (rate.toDouble * seconds.toDouble).round.toInt
    val out = new LogWriter(new File(dir), roll.toLong, firstFile.toLong)
    val late = new Array[Double](n)
    val t0 = System.currentTimeMillis()
    println(s"t0 $t0")
    System.out.flush()
    var i = 0
    while (i < n) {
      val now = System.currentTimeMillis()
      val firstDue = LiveGen.due(t0, i, rate.toDouble)
      if (firstDue > now) Thread.sleep(firstDue - now)
      val at = System.currentTimeMillis()
      while (i < n && LiveGen.due(t0, i, rate.toDouble) <= at) {
        val d = LiveGen.due(t0, i, rate.toDouble)
        out.append(gen.next(), d)
        late(i) = (at - d).toDouble
        i += 1
      }
      out.flush()
    }
    out.close()
    val (tail, _) = Stats.tail(late.toSeq)
    println(s"done $n ${Stats.median(late.toSeq)} $tail ${out.nextFileId}")
    System.out.flush()
  }

  def due(t0: Long, i: Int, rate: Double): Long = t0 + (i * 1000.0 / rate).toLong
}
