package graft.io

import java.nio.file.{Files, Path, StandardOpenOption}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.io.FileUtils

/** The one way a small metadata file or a directory is replaced so a
  * reader sees the old content or the new, never a torn write. A file
  * is written to a hidden tmp file in its target's directory (one per
  * write, named with [[TmpPrefix]] so a crashed writer's leftover is
  * recognisable debris) and renamed over the target. JSON files are
  * trees of the one shared [[Json]] mapper: compact, fields in
  * insertion order.
  */
object AtomicFiles {

  val Json = new ObjectMapper()

  /** Name prefix of the tmp file each [[replace]] writes. */
  val TmpPrefix = ".tmp-"

  /** Atomically replace (or create) `path` with `bytes`. */
  def replace(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(
      s"$TmpPrefix${java.util.UUID.randomUUID()}-${path.getFileName}")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
    try Files.move(tmp, path, ATOMIC_MOVE, REPLACE_EXISTING)
    catch { case e: java.io.IOException => Files.deleteIfExists(tmp); throw e }
  }

  /** [[replace]] with a JSON tree. */
  def replaceJson(path: Path, node: JsonNode): Unit =
    replace(path, Json.writeValueAsBytes(node))

  /** The JSON tree at `path`; None when missing, unreadable or not JSON. */
  def readJson(path: Path): Option[JsonNode] =
    try Some(Json.readTree(path.toFile)).filter(n => n != null && !n.isMissingNode)
    catch { case _: java.io.IOException => None }

  /** Replace the directory `live` with `next` through the aside name
    * `aside`, which is deleted after. A crash between the two renames
    * leaves `live` missing and both others intact; the caller's
    * recovery decides which to keep.
    */
  def swapDir(live: Path, next: Path, aside: Path): Unit = {
    Files.move(live, aside, ATOMIC_MOVE)
    Files.move(next, live, ATOMIC_MOVE)
    FileUtils.deleteQuietly(aside.toFile)
  }
}
