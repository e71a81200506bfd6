package graft.cdcbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.cdc.{ChangelogFiles, ChangelogRecord, EnvelopeValue}

/** One generated change event. `grp` and `score` are the two columns
  * the secondary indexes cover; `payload` pads the row to the stated
  * width.
  */
final case class Ev(id: Long, key: Long, op: String, grp: Long, score: Long,
    payload: String)

/** Input shape of one workload: Zipf(`zipfS`) keys over `keys` distinct
  * keys, a delete share among events that hit a live key (a key that
  * is not live is inserted, a live one updated or deleted) and the
  * payload width in characters.
  */
final case class Shape(keys: Int, zipfS: Double, deleteShare: Double,
    payloadWidth: Int)

/** Seeded, deterministic event stream: the same (seed, shape) always
  * yields the same events, so the generator process and the checking
  * fold in the benchmark JVM regenerate one sequence independently.
  */
final class EventGen(seed: Long, shape: Shape) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(shape.keys)(r => 1.0 / math.pow(r + 1.0, shape.zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val live = new java.util.BitSet(shape.keys + 1)
  private var nextId = 0L
  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** A Zipf-distributed key in [1, keys]: rank 1 is the hottest. */
  def key(): Long = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    val r = if (i >= 0) i else math.min(-i - 1, shape.keys - 1)
    r + 1L
  }

  def next(): Ev = {
    val k = key()
    val op =
      if (!live.get(k.toInt)) { live.set(k.toInt); "insert" }
      else if (rnd.nextDouble() < shape.deleteShare) { live.clear(k.toInt); "delete" }
      else "update"
    val sb = new java.lang.StringBuilder(shape.payloadWidth)
    var j = 0
    while (j < shape.payloadWidth) {
      sb.append(alphabet.charAt(rnd.nextInt(alphabet.length))); j += 1
    }
    val e = Ev(nextId, k, op, rnd.nextInt(64).toLong, rnd.nextInt(1000).toLong,
      sb.toString)
    nextId += 1
    e
  }

  def take(n: Int): Vector[Ev] = Vector.fill(n)(next())
}

object Events {
  val Db = "bench"
  val Table = "events"

  val rowSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("grp", LongType), StructField("score", LongType),
      StructField("payload", StringType)))
  }

  def record(pos: Long, e: Ev, tsMs: Long): ChangelogRecord =
    ChangelogRecord(pos, e.op, Db, Table, tsMs, Map(
      "event_id" -> EnvelopeValue.VLong(e.id),
      "user_id" -> EnvelopeValue.VLong(e.key),
      "grp" -> EnvelopeValue.VLong(e.grp),
      "score" -> EnvelopeValue.VLong(e.score),
      "payload" -> EnvelopeValue.VString(e.payload)))

  /** Mean changelog line length of an event of this shape: the logical
    * input size that write amplification is measured against.
    */
  def lineBytes(shape: Shape): Double = {
    val es = new EventGen(0L, shape).take(100)
    es.map(e => ChangelogRecord.write(record(1L, e, 1700000000000L)).length + 1.0).sum / es.size
  }

  def writeSchemas(dir: File): Unit = {
    dir.mkdirs()
    val sw = new java.io.StringWriter()
    val g = new com.fasterxml.jackson.core.JsonFactory().createGenerator(sw)
    g.writeStartObject()
    g.writeStringField(s"$Db.$Table", rowSchema.json)
    g.writeEndObject()
    g.close()
    val json = sw.toString
    java.nio.file.Files.write(new File(dir, "schemas.json").toPath,
      json.getBytes(UTF_8))
  }
}

/** Appends records to a live single-table binlog directory, rolling to
  * a new file every `rollEvents` records. Lines are flushed whole, so a
  * reader sees at most one partial trailing line.
  */
final class LogWriter(dir: File, rollEvents: Long, firstFileId: Long) {
  private var fileId = firstFileId - 1
  private var pos = 0L
  private var out: BufferedOutputStream = _
  roll()

  private def roll(): Unit = {
    if (out != null) out.close()
    fileId += 1
    pos = 0L
    out = new BufferedOutputStream(new FileOutputStream(
      new File(dir, f"${ChangelogFiles.DefaultPrefix}.$fileId%06d")), 1 << 16)
  }

  def append(e: Ev, tsMs: Long): Unit = {
    if (pos >= rollEvents) roll()
    pos += 1
    val b = (ChangelogRecord.write(Events.record(pos, e, tsMs)) + "\n").getBytes(UTF_8)
    out.write(b)
  }

  def flush(): Unit = out.flush()
  def close(): Unit = out.close()
  def nextFileId: Long = fileId + 1
}

/** The independent check: a plain last-op-per-key fold of the generated
  * events in (ts_ms, event_id) order with deletes removed. Uses no
  * graft code.
  */
object Fold {
  final case class Row(eventId: Long, grp: Long, score: Long, payload: String)

  def apply(events: Iterable[(Ev, Long)]): Map[Long, Row] = {
    val last = mutable.HashMap.empty[Long, (Long, Long, Ev)]
    events.foreach { case (e, ts) =>
      last.get(e.key) match {
        case Some((t, id, _)) if t > ts || (t == ts && id > e.id) => ()
        case _ => last(e.key) = (ts, e.id, e)
      }
    }
    last.iterator.collect { case (k, (_, _, e)) if e.op != "delete" =>
      k -> Row(e.id, e.grp, e.score, e.payload) }.toMap
  }

  /** Compare a store read back as (key -> row) with the fold; returns
    * the mismatch count and up to three examples.
    */
  def diff[V](expected: Map[Long, V], actual: Map[Long, V]): (Int, Seq[String]) = {
    val keys = expected.keySet ++ actual.keySet
    val bad = keys.iterator.filter(k => expected.get(k) != actual.get(k)).toSeq
    (bad.size, bad.sorted.take(3).map(k =>
      s"key $k expected ${expected.get(k)} got ${actual.get(k)}"))
  }
}
