package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import graft.io.AtomicFiles
import graft.io.AtomicFiles.Json
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The replica store's on-disk commit protocol: the one module that
  * names versions, reads and writes manifests, assembles staging dirs,
  * takes the commit lock, flips CURRENT and collects garbage. Every
  * writer commits through one [[Txn]]; nothing else writes a version
  * dir, CURRENT or the lock.
  *
  * Bucket-scoped versioned layout — the partition-scoped MERGE shape
  * (what a Delta/Iceberg MERGE does under the hood):
  *
  *   <replicaDir>/CURRENT                   → "v000000003"
  *   <replicaDir>/v000000003/manifest.json  {numBuckets, buckets: {k → path}}
  *   <replicaDir>/v000000003/data/__bucket=5/…parquet
  *
  * Rows hash-partition into numBuckets buckets by idCols; a batch
  * REWRITES ONLY the buckets its keys touch, and the new manifest
  * points untouched buckets at their existing files in older versions.
  * At 100 TB the per-batch write cost is O(touched buckets), not
  * O(replica). The swap is: write the new version dir + manifest
  * completely, then ATOMIC_MOVE a fresh pointer over CURRENT, then
  * best-effort-delete version dirs no current/previous manifest
  * references. A crash anywhere leaves either the old or the new
  * version live — never neither.
  */
private[streaming] object ReplicaStore {

  val DefaultBuckets = 16
  val Tombstone = "__tombstone"
  val LockFile = ".commit-lock"
  val FrozenMarker = "FROZEN"
  private val Pointer = "CURRENT"
  private val StagingPrefix = ".staging-"
  /** A lock older than this is a crashed writer's: far above the
    * metadata-only critical section it guards.
    */
  private val LockStaleMs = 60000L

  def versionName(v: Long): String = f"v$v%09d"
  private def isVersionName(s: String): Boolean = s.matches("v[0-9]{9}")
  private def versionNumber(name: String): Long = name.stripPrefix("v").toLong

  private def listFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq

  /** Numbers of the version dirs directly under `dir`, ascending. */
  def versionDirs(dir: String): Seq[Long] =
    listFiles(dir).filter(f => f.isDirectory && isVersionName(f.getName))
      .map(f => versionNumber(f.getName)).sorted

  def versionDir(dir: String, v: Long): java.io.File =
    new java.io.File(dir, versionName(v))

  /** Where data GC retires version `v`'s feed surface. */
  def retiredDir(dir: String, v: Long): java.io.File =
    new java.io.File(s"$dir/_feed", versionName(v))

  def retiredVersions(dir: String): Seq[Long] = versionDirs(s"$dir/_feed")

  /** The version whose dir owns a manifest-recorded bucket or delta
    * path — for a RELATIVE path its first segment; for a clone's
    * ABSOLUTE reference, the `v…` segment preceding the `data`/`delta`
    * segment (the SOURCE's version dir). The deferred fold uses this as
    * the delta's global sequence: clone version numbering starts ABOVE
    * its source's current version, so a clone-local delta always
    * outranks any inherited source delta — sequence monotonicity
    * survives the absolute references.
    */
  def owningVersion(p: String): Option[Long] = {
    val segs = p.split('/')
    val i = segs.lastIndexWhere(s => s == "delta" || s == "data")
    (if (i > 0 && isVersionName(segs(i - 1))) Some(segs(i - 1))
    // fallback searches from the END: the version segment sits near
    // the leaf, so a store ROOTED under a directory that happens to
    // be named like v000000001 must not shadow it (the first-match
    // scan mis-derived inherited deltas' sequence numbers there)
    else segs.reverseIterator.find(isVersionName)).map(versionNumber)
  }

  /** `schema`/`keyCols`/`opColName`/`commitKind` are REQUIRED: every
    * commit records them, and a version whose manifest lacks one is in
    * a format `upgradeReplica` rewrites (see [[currentFormat]]).
    * `schema` is the store's UNION schema, so every read serves bucket
    * files written under different evolution steps through one
    * explicit schema, with no footer merge.
    *
    * `bucketCols`: the key subset rows hash-route by — defaults to the
    * full key (`keyCols`). A PROPER subset turns the replica into a
    * value-clustered store: every row sharing the subset's values lands
    * in one bucket, so an equality lookup on just those columns prunes
    * exactly — the layout a secondary index needs (partition key =
    * indexed value, full key = indexed value + primary key). Pinned at
    * replica creation, recorded here so every reader and writer derives
    * the same routing.
    *
    * `keyCols`/`opColName`/`deltas`: the merge-on-read surface. A
    * DEFERRED commit appends its per-key net as per-bucket delta files
    * (no base read, no base rewrite) and records them here in commit
    * order; read paths fold base ∪ deltas newest-net-wins, and
    * compaction folds deltas back into base files, with no
    * caller-provided metadata.
    *
    * `condOrderCols`/`deltasConditional`/`tombstoneMins`: the
    * order-conditional surface. `condOrderCols` names the stored
    * columns every conditional merge of this store orders by (pinned
    * at the first conditional merge — mixing orderings would make the
    * stored-vs-incoming compare meaningless). `deltasConditional`
    * marks the PENDING delta chains as order-folded: the read fold
    * picks each key's greatest-order row (ties → later commit) instead
    * of the newest commit, and compaction materializes winning deletes
    * as tombstone rows. `tombstoneMins` records, per bucket, the
    * MINIMUM (by the order tuple) stored tombstone's order values as a
    * JSON object — so tombstone-expiry detection is an O(manifest)
    * predicate over ≤ numBuckets driver-local rows, never a store
    * scan. Maintained at every base-bucket write; a bucket absent from
    * the map holds no tombstones.
    */
  final case class ReplicaManifest(numBuckets: Int,
      buckets: Map[Int, String],
      schema: StructType,
      keyCols: Seq[String],
      opColName: String,
      /** WHAT KIND of commit produced this version — "merge",
        * "compact", "reshard", "upgrade", "erase", "restore", "clone",
        * "refresh". Lets feed consumers distinguish a changeless
        * version that is CONTENT-IDENTICAL (compact, reshard, upgrade —
        * correctly contributes an empty change set) from one that
        * MUTATED content without a feed entry (an erasure, or a merge
        * with recordChanges=false) — the latter must refuse a follower
        * drain instead of silently losing the commit.
        */
      commitKind: String,
      watermark: Option[Long] = None,
      bucketCols: Option[Seq[String]] = None,
      deltas: Map[Int, Seq[String]] = Map.empty,
      condOrderCols: Option[Seq[String]] = None,
      deltasConditional: Boolean = false,
      tombstoneMins: Map[Int, String] = Map.empty) {
    def routing: Seq[String] = bucketCols.getOrElse(keyCols)
    def refs: Seq[String] = (buckets.values ++ deltas.values.flatten).toSeq
  }

  /** Recorded-min value for a bucket whose only tombstones carry NULL
    * order values: unorderable against any horizon (never expires),
    * recorded so the bucket stays in the exclusivity clash set.
    */
  val NullOrderSentinel = """{"__null_order":true}"""

  /** A JSON sidecar's string field; None when absent or not a string. */
  def textField(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filter(_.isTextual).map(_.textValue)

  /** A JSON sidecar's integer field; None when absent or not an integer. */
  def longField(n: JsonNode, k: String): Option[Long] =
    Option(n.get(k)).filter(x => x.isIntegralNumber && x.canConvertToLong)
      .map(_.longValue)

  /** Version `v`'s manifest as written — in any format, an older graft's
    * too: a required field it lacks reads EMPTY. None when the version
    * dir holds no manifest (the pre-bucket flat layout, or GC'd). Only
    * `upgradeReplica` reads through this; everything else reads
    * [[readManifest]].
    */
  def parseManifest(dir: String, v: Long): Option[ReplicaManifest] = {
    import scala.jdk.CollectionConverters._
    val f = new java.io.File(versionDir(dir, v), "manifest.json")
    if (!f.exists()) return None
    val n = Json.readTree(f)
    def str(k: String) = Option(n.get(k)).map(_.asText)
    def strs(j: JsonNode) = j.elements.asScala.map(_.asText).toSeq
    def byBucket[A](k: String)(v: JsonNode => A) =
      Option(n.get(k)).map(_.fields.asScala
        .map(e => e.getKey.toInt -> v(e.getValue)).toMap).getOrElse(Map.empty[Int, A])
    Some(ReplicaManifest(
      numBuckets = Option(n.get("numBuckets")).map(_.asInt)
        .getOrElse(DefaultBuckets),
      buckets = byBucket("buckets")(_.asText),
      schema = str("schema").map(parsedSchema(_)).getOrElse(new StructType()),
      keyCols = Option(n.get("keyCols")).map(strs).getOrElse(Nil),
      opColName = str("opCol").getOrElse(""),
      commitKind = str("commitKind").getOrElse(""),
      watermark = Option(n.get("watermark")).map(_.asLong),
      bucketCols = Option(n.get("bucketCols")).map(strs),
      deltas = byBucket("deltas")(strs),
      condOrderCols = Option(n.get("condOrderCols")).map(strs),
      deltasConditional = Option(n.get("deltasConditional")).exists(_.asBoolean),
      tombstoneMins = byBucket("tombstoneMins")(_.asText)))
  }

  /** Is `m` the manifest every current writer writes? Schema, key
    * columns, op column and kind are recorded; a store holding
    * tombstones records the order columns they compare by; and every
    * recorded tombstone min carries each order column (older writers
    * recorded a min with a null field, which no horizon can judge).
    */
  def currentFormat(m: ReplicaManifest): Boolean =
    m.schema.nonEmpty && m.keyCols.nonEmpty && m.opColName.nonEmpty &&
      m.commitKind.nonEmpty &&
      (m.condOrderCols.nonEmpty || !m.schema.fieldNames.contains(Tombstone)) &&
      m.tombstoneMins.values.forall { j =>
        j == NullOrderSentinel ||
          m.condOrderCols.exists(_.forall(nonNullFields(j).contains))
      }

  /** A pure function of a manifest's JSON text, memoized on that text:
    * the key is the content itself, so no entry can go stale. Cleared
    * wholesale past the bound (as [[graft.operators.ZoneMaps]]' zone
    * cache: the entries are small and re-derivable).
    */
  private final class TextMemo[V <: AnyRef](f: String => V) {
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, V]()
    def apply(text: String): V = {
      if (memo.size > 4096) memo.clear()
      memo.computeIfAbsent(text, t => f(t))
    }
  }

  /** A recorded schema, parsed once per distinct JSON text. */
  private val parsedSchema = new TextMemo(
    DataType.fromJson(_).asInstanceOf[StructType])

  /** The fields a recorded tombstone min holds non-null. */
  private val nonNullFields = new TextMemo[Set[String]]({ j =>
    import scala.jdk.CollectionConverters._
    val t = Json.readTree(j)
    t.fieldNames.asScala.filter(t.hasNonNull).toSet
  })

  /** Version `v`'s manifest in the current format. None when the version
    * was never committed, was GC'd, or was written in an older format —
    * a historical version is then simply gone; a CURRENT one is refused
    * by [[currentManifest]].
    */
  def readManifest(dir: String, v: Long): Option[ReplicaManifest] =
    parseManifest(dir, v).filter(currentFormat)

  private def writeManifestTo(dir: java.nio.file.Path, m: ReplicaManifest): Unit = {
    val n = Json.createObjectNode()
    def strings(k: String, cs: Seq[String]): Unit = {
      val a = n.putArray(k); cs.foreach(a.add)
    }
    def byBucket[A](k: String, kv: Map[Int, A])(
        put: (com.fasterxml.jackson.databind.node.ObjectNode, String, A) => Unit): Unit = {
      val o = n.putObject(k)
      kv.toSeq.sortBy(_._1).foreach { case (b, v) => put(o, b.toString, v) }
    }
    n.put("numBuckets", m.numBuckets)
    n.put("schema", m.schema.json)
    m.watermark.foreach(n.put("watermark", _))
    m.bucketCols.foreach(strings("bucketCols", _))
    strings("keyCols", m.keyCols)
    n.put("opCol", m.opColName)
    n.put("commitKind", m.commitKind)
    m.condOrderCols.foreach(strings("condOrderCols", _))
    if (m.deltasConditional) n.put("deltasConditional", true)
    if (m.tombstoneMins.nonEmpty)
      byBucket("tombstoneMins", m.tombstoneMins)(_.put(_, _))
    byBucket("buckets", m.buckets)(_.put(_, _))
    if (m.deltas.nonEmpty)
      byBucket("deltas", m.deltas) { (o, b, ps) =>
        val a = o.putArray(b); ps.foreach(a.add)
      }
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("manifest.json"), Json.writeValueAsBytes(n))
  }

  /** `sc` widened by the tombstone column when a rewrite's conditional
    * fold `folded` carries it: the fold may materialize a store's first
    * tombstones, and the recorded schema must advertise the column or
    * schema-pruned readers would read those rows back as live.
    */
  private def withTombstoneIn(sc: StructType, folded: Option[DataFrame]): StructType =
    if (sc.fieldNames.contains(Tombstone) ||
        !folded.exists(_.columns.contains(Tombstone))) sc
    else sc.add(Tombstone, BooleanType)

  /** Per-bucket tombstone metadata off a freshly written staging data
    * dir (one column-pruned agg over just-rewritten files): the min
    * (by the store's order tuple) tombstone's order values as JSON.
    * Buckets absent from the result hold no tombstones.
    */
  private def stagedTombstoneMins(spark: SparkSession,
      dataDir: String, ordNames: Seq[String]): Map[Int, String] = {
    // a rewrite that filtered every row (e.g. expiry emptied the only
    // bucket) leaves no parquet files — nothing to record
    def hasParquet(f: java.io.File): Boolean =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).exists(hasParquet)
      else f.getName.endsWith(".parquet")
    if (!hasParquet(new java.io.File(dataDir))) return Map.empty
    val df = spark.read.parquet(dataDir)
    if (!df.columns.contains(Tombstone) ||
        !ordNames.forall(df.columns.contains)) return Map.empty
    // null-order tombstones stay OUT of the min: a null min field
    // would evaluate the horizon to null and block the whole bucket's
    // age-out forever. A tombstone whose order is unknown can never be
    // judged expired by an order horizon — it is retained (never
    // swept), and must not hide its bucket's orderable tombstones. A
    // bucket whose ONLY tombstones are null-order still records the
    // [[NullOrderSentinel]]: the map's keySet is also the deferred
    // sequence-fold exclusivity clash set, and dropping the bucket
    // would admit an order-free fold against a tombstone it cannot
    // order with.
    df.filter(coalesce(col(Tombstone), lit(false)))
      .groupBy(col("__bucket").cast("int").as("__b"))
      .agg(min(when(ordNames.map(c => col(c).isNotNull).reduce(_ && _),
        struct(ordNames.map(col): _*))).as("m"))
      .select(col("__b"),
        coalesce(to_json(col("m")), lit(NullOrderSentinel)).as("j"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
  }

  /** Bucket ids of a `partitionBy("__bucket")` write, from its
    * partition dirs.
    */
  def bucketDirs(dir: String): Set[Int] =
    listFiles(dir).filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
      .map(_.getName.stripPrefix("__bucket=").toInt).toSet

  /** The version CURRENT names; None when nothing was ever committed.
    * A CURRENT whose version dir is gone is read once more (a reader
    * that lost a race with a flip and its GC sees the new version),
    * then refused: building on it would claim version 1 over the
    * store's real history.
    */
  def currentVersion(dir: String): Option[Long] = {
    val ptr = new java.io.File(dir, Pointer)
    if (!ptr.exists()) return None
    def named(): String = java.nio.file.Files.readString(ptr.toPath).trim
    def live(name: String): Boolean = new java.io.File(dir, name).isDirectory
    val first = named()
    val name = if (live(first)) first else named()
    if (live(name)) Some(versionNumber(name))
    else throw new DanglingCurrentException(dir, name)
  }

  final class DanglingCurrentException(dir: String, val name: String)
      extends IllegalStateException(s"replica $dir: CURRENT names $name, " +
        "whose version dir does not exist — the committed history is " +
        "broken; nothing reads or writes this store until it is repaired " +
        "(CdcStream.fsckReplica reports it)")

  /** CURRENT with its manifest — None when nothing was ever committed.
    * Every entry point resolves the live state through here, so this is
    * the ONE place a store in an older format is refused: a current
    * version without a current-format manifest ([[currentFormat]]).
    */
  def currentManifest(dir: String): Option[(Long, ReplicaManifest)] =
    currentVersion(dir).map { v =>
      (v, readManifest(dir, v).getOrElse(
        throw new IllegalStateException(olderFormat(dir, v))))
    }

  def olderFormat(dir: String, v: Long): String =
    s"replica $dir: current version ${versionName(v)} is in an older store " +
      "format (a flat layout, or a manifest without a schema, keyCols, " +
      "opCol, commitKind, the order columns of its tombstones or a " +
      "complete tombstone min) — rewrite it once with " +
      "CdcStream.upgradeReplica(spark, dir, idCols, orderCols)"

  /** COMMITTED versions only: on-disk version dirs at or below the
    * CURRENT pointer. A crashed writer's claimed-but-unpublished
    * orphan sits ABOVE the pointer with a complete manifest
    * (watermark included), so any watermark scan or fleet composition
    * that picks from raw [[versionDirs]] can select uncommitted
    * state — the fault sweep caught `restoreConsistentTables`'s retry
    * picking its own crash's orphan and refusing on it.
    */
  def committedVersions(dir: String): Seq[Long] =
    currentVersion(dir) match {
      case Some(cur) => versionDirs(dir).filter(_ <= cur)
      case None => Nil
    }

  /** Point CURRENT at version `v`, for a store (an aggregate view) that
    * serializes its own writers.
    */
  def writePointer(dir: String, v: Long): Unit =
    AtomicFiles.replace(java.nio.file.Paths.get(dir, Pointer),
      versionName(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The one pointer flip of a commit or a prepared-version flip. */
  private def flipCurrent(dir: String, v: Long): Unit = {
    writePointer(dir, v)
    CommitFaults.hit(dir, CommitFaults.Post)
  }

  private def lockPath(dir: String) = java.nio.file.Paths.get(dir, LockFile)

  private def pastLockHorizon(f: java.io.File): Boolean =
    System.currentTimeMillis() - f.lastModified > LockStaleMs

  /** Is the commit lock past its stale-break horizon? */
  def lockStale(dir: String): Boolean = {
    val f = lockPath(dir).toFile
    f.isFile && pastLockHorizon(f)
  }

  /** Run `body` holding `dir`'s commit lock; None (body not run) when
    * another writer holds it. A lock past [[LockStaleMs]] is broken
    * race-free: the breaker atomically RENAMES the observed stale lock
    * aside, and each lock carries an owner token so release never
    * deletes a successor's lock.
    */
  private def withLock[A](dir: String)(body: => A): Option[A] = {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.StandardCopyOption.ATOMIC_MOVE
    val lock = lockPath(dir)
    val ownerToken = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        java.nio.file.Files.write(lock, ownerToken.getBytes(UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def acquire(): Boolean =
      tryCreate() || {
        if (pastLockHorizon(lock.toFile)) {
          // Read the observed-stale lock's identity BEFORE breaking:
          // the staleness check races against a concurrent
          // break-and-reacquire, so by the time our aside-rename lands
          // the path may hold a successor's LIVE lock. The rename is
          // atomic (of N breakers exactly one wins; losers fail the
          // move and retry the fresh lock), and it preserves both the
          // file's content and its mtime — so AFTER the move we verify
          // we moved what we measured: same owner token AND still a
          // stale mtime (a live lock is created fresh, so a
          // stale-mtime aside file is provably a crashed writer's).
          val staleToken =
            try Some(new String(java.nio.file.Files.readAllBytes(lock), UTF_8))
            catch { case _: java.io.IOException => None }
          CommitFaults.hit(dir, CommitFaults.LockBreak)
          val aside = java.nio.file.Paths.get(dir,
            s"$LockFile-broken-${System.nanoTime()}")
          // token unreadable = the owner released between our checks:
          // the path is (momentarily) free, so just try a fresh create
          staleToken.isEmpty && tryCreate() || staleToken.nonEmpty && {
            try {
              java.nio.file.Files.move(lock, aside, ATOMIC_MOVE)
              val movedToken =
                new String(java.nio.file.Files.readAllBytes(aside), UTF_8)
              if (staleToken.contains(movedToken) && pastLockHorizon(aside.toFile)) {
                java.nio.file.Files.deleteIfExists(aside)
                tryCreate()
              } else {
                // we stole a successor's live lock: hand it back. We
                // hold the aside file exclusively, but a third writer
                // may transiently claim the now-free path; its
                // critical section is sub-second metadata work, so
                // retry the restore briefly rather than leave two
                // writers believing they are serialized. The restore
                // publishes via a HARD LINK, not a rename: link(2)
                // FAILS atomically if the path is taken (rename(2)
                // would silently REPLACE a third writer's fresh
                // lock), so a claimed path is waited out, never
                // clobbered. If the restore cannot land, abort the
                // acquire (conflict); the aside file ages into the
                // stale-debris sweep and the displaced owner's
                // token-guarded release never touches a stranger's
                // lock.
                var restored = false
                var tries = 0
                while (!restored && tries < 200) {
                  restored =
                    try {
                      java.nio.file.Files.createLink(lock, aside)
                      java.nio.file.Files.deleteIfExists(aside)
                      true
                    } catch { case _: java.io.IOException => false }
                  if (!restored) { tries += 1; Thread.sleep(10) }
                }
                false
              }
            } catch { case _: java.io.IOException => false }
          }
        } else false
      }
    if (!acquire()) None
    else try Some(body) finally {
      // release only OUR lock: if it went stale (>60 s — impossible for
      // a metadata-only section short of a machine-level stall) and
      // a successor broke it, the token no longer matches and the
      // successor's lock is left alone
      try {
        if (new String(java.nio.file.Files.readAllBytes(lock), UTF_8) == ownerToken)
          java.nio.file.Files.deleteIfExists(lock)
      } catch { case _: java.io.IOException => () }
    }
  }

  def frozen(dir: String): Option[String] = {
    val p = java.nio.file.Paths.get(dir, FrozenMarker)
    if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p))
    else None
  }

  /** The one frozen-fence refusal of every write path. */
  def requireUnfrozen(dir: String): Unit =
    frozen(dir).foreach { r =>
      throw new IllegalStateException(
        s"replica $dir is FROZEN ($r): writes are fenced during " +
          "failover — resyncAsFollower to rejoin as a follower, or " +
          "unfreezeReplica to force")
    }

  /** `CdcStream.freezeReplica`: the marker, then a bounded wait for the
    * commit lock to clear.
    */
  def freeze(dir: String, reason: String): Unit = {
    new java.io.File(dir).mkdirs()
    AtomicFiles.replace(java.nio.file.Paths.get(dir, FrozenMarker),
      reason.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val lock = lockPath(dir).toFile
    val deadline = System.currentTimeMillis() + LockStaleMs + 5000L
    while (lock.exists() && !pastLockHorizon(lock) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  def unfreeze(dir: String): Unit = {
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, FrozenMarker))
    ()
  }

  /** The GC floor `pinReplicaRetention` recorded, if any. */
  def retentionPin(dir: String): Option[Long] =
    AtomicFiles.readJson(java.nio.file.Paths.get(dir, "_retain.json"))
      .flatMap(longField(_, "retainFromVersion"))

  /** Crashed writers' debris in a store's root — what the commit sweep
    * deletes and `fsckReplica` reports: a staging dir, an aside-renamed
    * orphan, a broken lock, or an [[AtomicFiles]] tmp file whose newest
    * mtime anywhere under it is over an hour old. Live writers keep
    * their staging trees fresh and finish lock breaks and metadata
    * writes in milliseconds, so only a dead writer's leftovers qualify.
    */
  def isStaleDebris(f: java.io.File, now: Long): Boolean = {
    def newestMtime(f: java.io.File): Long =
      Option(f.listFiles()).getOrElse(Array.empty)
        .foldLeft(f.lastModified())((m, c) => math.max(m, newestMtime(c)))
    Seq(StagingPrefix, ".gc-", s"$LockFile-broken-", AtomicFiles.TmpPrefix)
      .exists(f.getName.startsWith) && now - newestMtime(f) > 3600L * 1000
  }

  /** Move a GC-candidate version dir's feed surface to
    * `<dir>/_feed/<vname>/`: the `changes` dir (atomic rename —
    * delta-sized data, zero copy) and a `meta.json` carrying the
    * manifest's `commitKind` + `watermark` (what
    * `readReplicaChanges`'s changeless-version classification and
    * `_commit_watermark` stamping read once the manifest is gone).
    * Crash order: changes move first, then meta — a half-retired
    * version serves its changes from `_feed` (the read path checks
    * both locations), and classification is only consulted for
    * CHANGELESS versions, whose retire is meta-only. Best effort like
    * the GC itself: failure leaves the version dir in place (the
    * delete below it still runs — worst case the feed gains a gap, the
    * same outcome as pre-retention GC, never corruption).
    */
  private def retireVersionToFeed(dir: String, v: Long): Unit =
    try {
      val versionPath = versionDir(dir, v).toPath
      val target = retiredDir(dir, v).toPath
      java.nio.file.Files.createDirectories(target)
      // the changes dir, and the clone provenance: it outlives its
      // (data-less) initial version dir — `cloneProvenance` and
      // DESCRIBE HISTORY read it from `_feed` once the dir is gone
      // (without this, ONE post-clone commit's GC erased the store's
      // branch ancestry)
      Seq("changes", "_clone.json").map(f => (versionPath.resolve(f),
          target.resolve(f)))
        .filter { case (from, to) =>
          java.nio.file.Files.exists(from) && !java.nio.file.Files.exists(to)
        }
        .foreach { case (from, to) => java.nio.file.Files.move(from, to,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE) }
      if (!java.nio.file.Files.exists(target.resolve("meta.json"))) {
        val m = readManifest(dir, v)
        val n = Json.createObjectNode()
        m.map(_.commitKind).foreach(n.put("kind", _))
        m.flatMap(_.watermark).foreach(n.put("watermark", _))
        AtomicFiles.replaceJson(target.resolve("meta.json"), n)
      }
    } catch { case _: java.io.IOException => () }

  /** Post-flip GC of commit `myV` (see [[publishVersion]]). Only
    * versions at or below `myV` are candidates, so a competitor's newer
    * commit can never be swept by this commit's stale retain set.
    */
  private def collectGarbage(dir: String, myV: Long, next: ReplicaManifest,
      base: Option[(Long, ReplicaManifest)]): Unit = {
    def refs(m: Option[ReplicaManifest]): Set[String] =
      m.toSeq.flatMap(_.refs.map(_.takeWhile(_ != '/'))).toSet
    val retain = refs(Some(next)) ++ refs(base.map(_._2)) + versionName(myV) ++
      base.map(b => versionName(b._1))
    // clone-aware retention pin: version dirs at or above the pinned
    // floor are never swept (`pinReplicaRetention`)
    val pinFloor = retentionPin(dir)
    val now = System.currentTimeMillis()
    listFiles(dir).foreach { f =>
      val version = Some(f.getName).filter(n => f.isDirectory && isVersionName(n))
        .map(versionNumber)
      val collect = version.exists(v => v <= myV &&
        !retain.contains(f.getName) && !pinFloor.exists(v >= _))
      if (collect || isStaleDebris(f, now)) {
        // FEED RETENTION decoupled from data GC (the Delta-CDF
        // contract: OPTIMIZE never shortens the change feed; only
        // VACUUM/truncate does): before a version dir dies, its feed
        // surface — the changes dir plus the kind/watermark the feed
        // classification and stamping need — retires into `_feed/`.
        version.foreach(retireVersionToFeed(dir, _))
        FileUtils.deleteQuietly(f)
      }
    }
  }

  /** Commit the version assembled in `staging` as version `v` on top of
    * `base` — OPTIMISTIC CONCURRENCY, Delta-commit style. The whole
    * commit (validate → claim name → flip pointer) runs under the
    * commit lock and contains ONLY fast metadata operations:
    *
    *  1. the manifest is written INTO the staging dir, so the directory
    *     is complete before it becomes visible;
    *  2. under the lock, the COMPARE-AND-SWAP check runs FIRST:
    *     CURRENT must still equal the version this commit was based
    *     on. A competitor that committed since — whether or not its
    *     version dir is visible yet — fails this check, and the loser
    *     never touches the target name (its [[Txn]] deletes only its
    *     OWN staging). On a real metastore this check-and-flip is one
    *     CAS;
    *  3. if the target name already exists while CURRENT is unchanged,
    *     it can only be a CRASHED writer's complete-but-unpublished
    *     orphan (died between rename and flip, holding no lock —
    *     live commits are serialized by the lock, so a mid-commit
    *     competitor is never mistaken for an orphan): rename it aside
    *     and claim the name (the aside dir is deleted after release —
    *     data-sized deletions never run while holding the lock);
    *  4. the staging dir atomically RENAMES to the target and the
    *     CURRENT pointer flips atomically; then version dirs referenced
    *     by NEITHER the new manifest NOR the previous one are GC'd (a
    *     reader that resolved CURRENT just before the flip is still
    *     scanning the previous version — one version of grace). Best
    *     effort; failure leaves garbage, not loss. Stale staging debris
    *     is swept by DEEP newest-mtime (a slow writer streaming into a
    *     staging subtree keeps it alive).
    *
    * `flipPointer = false` is a PREPARE-ONLY commit (phase 1 of the
    * cross-store atomic flip, [[flipPrepared]]): everything through the
    * version-dir claim, CURRENT untouched — invisible to readers until
    * its flip, and an abandoned prepare is an orphan the next commit
    * renames aside. The GC belongs to the flip's view and is skipped.
    */
  private def publishVersion(dir: String, staging: String, v: Long,
      next: ReplicaManifest, base: Option[(Long, ReplicaManifest)],
      fenced: Boolean, flipPointer: Boolean): Unit = {
    import java.nio.file.StandardCopyOption.ATOMIC_MOVE
    CommitFaults.hit(dir, CommitFaults.Entry)
    writeManifestTo(java.nio.file.Paths.get(staging), next)
    val target = versionDir(dir, v).toPath
    def conflict(msg: String): Nothing =
      throw new CdcStream.ConcurrentReplicaWriteException(
        s"replica $dir: $msg; re-run this batch against the new " +
          "current version")
    val orphanAside = withLock(dir) {
      // fence re-check INSIDE the critical section: entry-time checks
      // leave a window where a long-running writer commits behind a
      // fence raised mid-flight ([[freeze]] waits this lock out, so
      // marker-write happens-before any commit that gets here after
      // the fence)
      if (fenced) requireUnfrozen(dir)
      val nowCur = currentVersion(dir)
      if (nowCur != base.map(_._1))
        conflict(s"based on ${base.map(b => versionName(b._1)).getOrElse("<empty>")} " +
          s"but current is now ${nowCur.map(versionName).getOrElse("<empty>")}")
      // an existing target is a crashed writer's orphan (step 3)
      val aside =
        if (!java.nio.file.Files.exists(target)) None
        else {
          val p = java.nio.file.Paths.get(dir, s".gc-${System.nanoTime()}")
          try { java.nio.file.Files.move(target, p, ATOMIC_MOVE); Some(p) }
          catch { case _: java.io.IOException => None }
        }
      try java.nio.file.Files.move(java.nio.file.Paths.get(staging), target,
        ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          conflict(s"could not claim version dir ${versionName(v)} (${e.getMessage})")
      }
      CommitFaults.hit(dir, CommitFaults.Claim)
      if (flipPointer) flipCurrent(dir, v)
      aside
    }.getOrElse(conflict("another writer is mid-commit"))
    orphanAside.foreach(p => FileUtils.deleteQuietly(p.toFile))
    if (flipPointer) collectGarbage(dir, v, next, base)
  }

  /** `CdcStream.flipPreparedVersion`. No post-flip GC runs here — the
    * NEXT ordinary commit's sweep covers whatever this version
    * superseded.
    */
  def flipPrepared(dir: String, v: Long): Unit = {
    CommitFaults.hit(dir, CommitFaults.Entry)
    if (currentVersion(dir).exists(_ >= v)) return
    // split-brain fence: a freeze raised between prepare and flip (a
    // failover demoting this writer's stores) must block the flip the
    // same way publishVersion's in-lock re-check blocks a commit — a
    // pointer published behind the fence would be a successful write
    // on a demoted store
    requireUnfrozen(dir)
    if (!versionDir(dir, v).isDirectory)
      throw new IllegalStateException(
        s"flipPreparedVersion: $dir has no prepared version ${versionName(v)} " +
          "— a later commit orphan-swept an abandoned prepare; re-run " +
          "the batch from phase 1")
    CommitFaults.hit(dir, CommitFaults.Claim)
    flipCurrent(dir, v)
  }

  private val stagingCounter = new java.util.concurrent.atomic.AtomicLong()

  /** One commit to store `dir`, built on `base` — the version and
    * manifest the writer read (None: a fresh store) — as version
    * `base + 1` or `explicit`. Opening it checks the fence and creates
    * a staging dir, hidden from readers, to assemble the version in;
    * [[stage]] records the manifest (the `stage` fault point),
    * [[publish]] commits it, and [[close]] deletes the staging dir
    * unless it was published. `kind` is the commit classification the
    * manifest records — never copied from the previous manifest.
    */
  final class Txn(val dir: String,
      @volatile var base: Option[(Long, ReplicaManifest)],
      val kind: String, fenced: Boolean, explicit: Option[Long]) {

    if (fenced) requireUnfrozen(dir)
    val staging: String = {
      val p = java.nio.file.Paths.get(dir,
        s"$StagingPrefix${System.nanoTime()}-${stagingCounter.incrementAndGet()}")
      java.nio.file.Files.createDirectories(p)
      p.toString
    }
    @volatile private var staged: Option[ReplicaManifest] = None
    @volatile private var published = false

    def version: Long = explicit.getOrElse(base.fold(1L)(_._1 + 1))

    /** A subdirectory of the staging dir (`data`, `delta`, `changes`, …). */
    def path(sub: String): String = s"$staging/$sub"

    /** The manifest path of bucket `k` written under `path(sub)`. */
    def ref(sub: String, k: Int): String = s"${versionName(version)}/$sub/__bucket=$k"

    /** Copies the parquet files of the `partitionBy("__bucket")` write
      * under `path(from)` into the one dir `path(to)`. The bucket lives
      * in their dir names, so they hold the other columns in write order.
      */
    def copyBucketFiles(from: String, to: String): Unit = {
      val target = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path(to)))
      bucketDirs(path(from)).foreach { b =>
        listFiles(s"${path(from)}/__bucket=$b").filter(_.getName.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.copy(f.toPath, target.resolve(s"b$b-${f.getName}")))
      }
    }

    /** `m` after the buckets `k` were rewritten into `path("data")`:
      * they point at their new files (an emptied one drops out), lose
      * their deltas, and re-derive their tombstone mins under `minsBy`
      * (one agg over the written files); the schema gains the tombstone
      * column when `folded` carries it.
      */
    def rewritten(spark: SparkSession, m: ReplicaManifest, k: Set[Int],
        folded: Option[DataFrame] = None,
        minsBy: Option[Seq[String]] = None): ReplicaManifest = {
      val data = path("data")
      val written = bucketDirs(data)
      if (!written.subsetOf(k))
        throw new IllegalStateException(s"replica $dir: commit wrote " +
          s"bucket(s) ${(written -- k).toSeq.sorted.mkString(",")} " +
          "outside the set it rewrites")
      val deltas = m.deltas -- k
      m.copy(buckets = (m.buckets -- k) ++ written.map(b => b -> ref("data", b)),
        schema = withTombstoneIn(m.schema, folded),
        deltas = deltas,
        deltasConditional = deltas.nonEmpty && m.deltasConditional,
        tombstoneMins = (m.tombstoneMins -- k) ++
          minsBy.map(stagedTombstoneMins(spark, data, _)).getOrElse(Map.empty))
    }

    def stage(m: ReplicaManifest): Unit = {
      staged = Some(m)
      CommitFaults.hit(dir, CommitFaults.Stage)
    }

    /** `prepareOnly` claims the version without flipping CURRENT. */
    def publish(prepareOnly: Boolean = false): Long = {
      val m = staged.getOrElse(throw new IllegalStateException(
        s"replica $dir: publish before stage"))
      publishVersion(dir, staging, version, m.copy(commitKind = kind), base,
        fenced, flipPointer = !prepareOnly)
      published = true
      version
    }

    def close(): Unit =
      if (!published) FileUtils.deleteQuietly(new java.io.File(staging))
  }

  /** One whole [[Txn]]: `body` fills the staging dir and returns the
    * manifest to publish, or None to publish nothing.
    */
  def commit(dir: String, base: Option[(Long, ReplicaManifest)], kind: String,
      fenced: Boolean = false, version: Option[Long] = None,
      prepareOnly: Boolean = false)(
      body: Txn => Option[ReplicaManifest]): Option[Long] = {
    val t = new Txn(dir, base, kind, fenced, version)
    try body(t).map { m => t.stage(m); t.publish(prepareOnly) }
    finally t.close()
  }
}
