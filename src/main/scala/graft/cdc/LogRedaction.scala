package graft.cdc

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

/** In-place compliance redaction for the file-backed changelog / WAL —
  * right-to-be-forgotten at the SOURCE, the surface
  * [[graft.streaming.CdcStream.eraseKeys]] (replica + change feed)
  * cannot reach: every record matching the predicate is rewritten as
  * an `op="redacted"` line of EXACTLY the same byte length
  * (space-padded), with an empty row image and no before-image.
  *
  * Why same-length in place, not drop-and-rewrite: every consumer
  * coordinate in the log is POSITIONAL — (fileId, line pos) offsets in
  * streaming checkpoints, per-table manifest counts, intra-file sync
  * points, byte-seek hints. A shrinking rewrite would silently
  * re-address every record behind the erased ones; same-length
  * redaction keeps every coordinate, count, and sync point
  * bit-identical. The readers ALREADY skip unknown ops while
  * consuming their position (both sources' "consumes its position
  * silently" contract — `emits()` in the binlog reader, the
  * put/delete filter in the WAL reader), so a redacted record needs
  * no reader change at all: it holds its offset and vanishes from
  * every emitted row stream, exactly like a filtered event type.
  *
  * Crash safety: a file with matches rewrites to a sibling tmp and
  * atomically renames over the original — a crash leaves either the
  * old or the new complete file. A torn trailing line (concurrent
  * append) is copied through byte-identical and never parsed. Files
  * without matches are not touched at all.
  *
  * Scale shape: per-file work is one linear parse+copy and files are
  * independent — on a cluster this driver loop becomes a job with one
  * task per log file. The redaction predicate sees the PARSED record
  * (db, table, op, row cells), so key-based erasure is a cell
  * comparison, not a string match.
  */
object LogRedaction {

  /** Op written into redacted lines. Both DSv2 readers treat it as
    * "not a row change": position consumed, nothing emitted.
    */
  val RedactedOp = "redacted"

  /** Redact all matching records under `dir` (one flat changelog) —
    * returns the number of records redacted.
    */
  def redact(dir: String, prefix: String = ChangelogFiles.DefaultPrefix)(
      matches: ChangelogRecord => Boolean): Long =
    ChangelogFiles.listFiles(dir, prefix)
      .map { case (_, f) => redactFile(f)(matches) }.sum

  /** Redact one log file in place (atomic same-length rewrite). */
  def redactFile(f: File)(matches: ChangelogRecord => Boolean): Long = {
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var i = 0
    var redacted = 0L
    while (i < bytes.length) {
      var nl = i
      while (nl < bytes.length && bytes(nl) != '\n'.toByte) nl += 1
      if (nl >= bytes.length) {
        // torn trailing line (concurrent append): copy through, never parse
        out.write(bytes, i, bytes.length - i)
        i = bytes.length
      } else {
        val lineLen = nl - i
        val line = new String(bytes, i, lineLen, UTF_8)
        val rec =
          try Some(ChangelogRecord.parse(line))
          catch { case _: Exception => None }
        rec.filter(r => r.op != RedactedOp && matches(r)) match {
          case Some(r) =>
            val red = ChangelogRecord.write(
              r.copy(op = RedactedOp, row = Map.empty, before = None))
            val redBytes = red.getBytes(UTF_8)
            if (redBytes.length > lineLen)
              throw new IllegalStateException(
                s"${f.getName} pos ${r.pos}: redacted form (${redBytes.length} B) " +
                  s"exceeds the original line ($lineLen B); offsets cannot be " +
                  "preserved — was this file written by an external producer?")
            out.write(redBytes)
            var pad = lineLen - redBytes.length
            while (pad > 0) { out.write(' '.toInt); pad -= 1 }
            redacted += 1
          case None =>
            out.write(bytes, i, lineLen)
        }
        out.write('\n'.toInt)
        i = nl + 1
      }
    }
    if (redacted > 0) graft.io.AtomicFiles.replace(f.toPath, out.toByteArray)
    redacted
  }

  /** Key-equality convenience: redact every record whose row OR
    * before-image holds `col == value` for any of `values` — the
    * "erase these users from the log" call.
    */
  def redactKeys(dir: String, col: String, values: Set[Long],
      prefix: String = ChangelogFiles.DefaultPrefix): Long = {
    def hit(row: Map[String, EnvelopeValue]): Boolean =
      row.get(col).exists {
        case EnvelopeValue.VLong(l) => values.contains(l)
        case _ => false
      }
    redact(dir, prefix)(r => hit(r.row) || r.before.exists(hit))
  }
}
