package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Global secondary index over the replica store — the DynamoDB-GSI /
  * HBase-secondary-index / Phoenix-index analog the reference's
  * downstream consumers build by hand (a second Delta table keyed by
  * the queried column; reference README.md:61-67 is the primary-path
  * half of that deployment).
  *
  * The index is ITSELF a replica: rows `(idxCol, primary key…)`,
  * hash-routed by `bucketCols = [idxCol]` alone, so every entry for
  * one indexed value lives in ONE bucket and an equality lookup prunes
  * to it exactly ([[CdcStream.readReplicaForKeys]] derives routing
  * from the manifest's recorded bucketCols). The full key keeps the
  * primary key columns, so entries merge/delete per (value, key) pair
  * through the SAME versioned MERGE as any replica — crash-safety,
  * time travel, compaction, erasure all inherit.
  *
  * Maintenance is DELTA-SIZED, never a primary scan: each batch's
  * per-key net is joined against the primary's CURRENT state for
  * exactly the touched keys (the key-pruned read — O(batch keys))
  * to learn each key's OLD indexed value; the index batch is then
  *   - a DELETE of `(old value, key)` wherever the key's indexed value
  *     moved or the key died (without it the index would accrete stale
  *     pointers — the classic hand-rolled-GSI bug), and
  *   - an UPSERT of `(new value, key)` for every surviving key.
  * Both apply as one merge on the index replica. The index and
  * primary commit as two separate versioned commits, INDEX FIRST —
  * the recoverable order: a crash between them leaves the index ahead
  * by at most one batch, and the replay (which recomputes the same
  * delete/upsert sets from the still-unmerged primary) converges it.
  * A lookup verifies hits against the primary — the standard
  * global-index read-repair contract — which also filters the crash
  * window's forward entries.
  *
  * Scale shape: maintenance cost is O(net keys) reads + a delta-sized
  * index merge; a value lookup is one index bucket read + a key-pruned
  * primary read — never O(table) on either side.
  */
object SecondaryIndex {

  // ------------------------------------------------------ applied cursor
  // The index store records WHICH primary version it reflects — the
  // in-order, exactly-once replay contract made checkable instead of
  // doc-only. Without it, replaying a feed version out of order, twice
  // at a distance, or past a skipped one silently corrupts the index
  // (stale pointers persist; missing entries make lookups silently
  // incomplete). The cursor is a sidecar file in the index dir (the
  // store's sweep only touches `.staging-*`/`.gc-*` debris), written
  // via temp + atomic rename so a torn write can't corrupt it.
  //
  // Crash discipline: [[applyBatchWithIndexes]] writes the cursor
  // AFTER all index commits and BEFORE the primary's (value = the
  // primary version the in-flight batch will create), then rewrites it
  // to the primary's ACTUAL current version after the primary commit
  // lands — so the cursor is never behind what the index applied, and
  // the checks treat "one ahead" as the crash-redo window (the same
  // forward window the index-first commit order already has). Feed
  // replays write each index's cursor after that index's commit.
  //
  // Check rule, everywhere: a cursor at `c` is in sync with a primary
  // at `cur` iff `c == cur + 1` (crash redo) or `c <= cur` with every
  // version in `(c, cur]` content-identical (compact/reshard — pure
  // maintenance carries nothing an index could miss, and a lagging
  // follower must be able to step over it). Absent cursor = a legacy
  // or externally-assembled index: checks pass, and the next write
  // graduates the store. An index store REBUILT by hand (or restored)
  // should be discarded, not cursor-edited — [[buildIndex]] stamps the
  // fresh store with its pinned version.

  private val CursorFile = "_applied_primary_version"

  /** The primary version this index store reflects (None: never
    * recorded — pre-cursor index stores, or a dir that isn't one).
    */
  def appliedPrimaryVersion(indexDir: String): Option[Long] = {
    val f = java.nio.file.Paths.get(indexDir, CursorFile)
    if (!java.nio.file.Files.exists(f)) None
    else java.nio.file.Files.readString(f).trim.toLongOption
  }

  private[streaming] def recordAppliedPrimaryVersion(indexDir: String, v: Long): Unit = {
    val dir = java.nio.file.Paths.get(indexDir)
    java.nio.file.Files.createDirectories(dir)
    graft.io.AtomicFiles.replace(dir.resolve(CursorFile),
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Refuse an index whose cursor cannot be reconciled with the
    * primary state the caller is about to apply over. `expectedAt` is
    * the primary version the index must reflect for the operation to
    * be sound; `redoAt` is the version an index that already applied
    * the in-flight work sits at (the crash-redo window — allowed,
    * the re-apply is idempotent by construction).
    */
  private def checkCursor(primaryDir: String, indexDir: String,
      expectedAt: Long, redoAt: Long, op: String): Unit =
    appliedPrimaryVersion(indexDir).foreach { c =>
      val ok = c == redoAt ||
        (c <= expectedAt &&
          CdcStream.contentIdenticalRange(primaryDir, c, expectedAt))
      if (!ok) throw new IllegalStateException(
        s"$op: index $indexDir reflects primary version $c of " +
          s"$primaryDir but this operation requires state $expectedAt " +
          "— replaying out of order or past a skipped version would " +
          "silently corrupt the index (stale pointers persist, missing " +
          "entries hide). Catch up in order via maintainIndexesFromFeed" +
          "(Range), or rebuild via buildIndex")
    }

  /** One secondary index's definition for the multi-index apply:
    * where it lives, the indexed expression over batch/primary
    * columns, its stored column name, optional covering projection,
    * and whether its merges defer.
    */
  final case class IndexSpec(
      dir: String,
      expr: Column,
      name: String,
      includeCols: Seq[String] = Nil,
      defer: Boolean = false)

  /** Apply one CDC micro-batch to the primary replica AND keep the
    * value index synchronized. `idxExpr` derives the indexed value
    * from a row's stored columns (must be deterministic); `idxName`
    * is the index key column; `orderColNames` must name stored batch
    * columns (they order the batch's per-key reduce exactly like the
    * primary's merge). The single-index form of
    * [[applyBatchWithIndexes]].
    *
    * @param deferIndexMerge apply the index's own merge as a
    *   MERGE-ON-READ deferred commit (`CdcStream.applyBatchToReplica
    *   (deferMerge)`): the index batch is delta-sized by construction,
    *   so appending it as per-bucket delta files — one write job, no
    *   index-bucket rewrite — is the natural shape; lookups fold the
    *   deltas, and index compaction runs at whatever cadence the store
    *   owner picks. `deferPrimaryMerge` defers the primary's merge the
    *   same way — safe because the old-value read resolves against the
    *   pre-commit FOLD (key-pruned reads fold pending deltas), so
    *   stale-pointer detection sees exactly the state an eager merge
    *   would have stored.
    */
  def applyBatchWithIndex(
      spark: SparkSession,
      primaryDir: String,
      indexDir: String,
      batch: DataFrame,
      idCols: Seq[String],
      orderColNames: Seq[String],
      idxExpr: Column,
      idxName: String,
      opCol: String = "op",
      deferIndexMerge: Boolean = false,
      numBuckets: Int = CdcStream.DefaultReplicaBuckets,
      watermark: Option[Long] = None,
      recordChanges: Boolean = false,
      deferPrimaryMerge: Boolean = false,
      includeCols: Seq[String] = Nil,
      conditionalOrder: Boolean = false): Unit =
    applyBatchWithIndexes(spark, primaryDir,
      Seq(IndexSpec(indexDir, idxExpr, idxName, includeCols,
        deferIndexMerge)),
      batch, idCols, orderColNames, opCol, numBuckets, watermark,
      recordChanges, deferPrimaryMerge, conditionalOrder)

  /** N-index maintenance — the real deployment shape (a store rarely
    * stops at one GSI). ONE key-pruned old-value read serves every
    * index, and ALL index commits land before the primary's: a crash
    * anywhere in the commit phase leaves some subset of the indexes
    * ahead by one batch, and the replay — whose old-value read still
    * sees the unmerged primary — recomputes identical delete/upsert
    * sets for every index, so already-committed indexes re-apply
    * idempotent content and the rest catch up. (Primary-first would be
    * unrecoverable for every index at once; see the ordering note
    * below.)
    *
    * Commit shape (eager primary):
    *  1. the batch is reduced to its last op per key and written once
    *     into the primary's staging dir ([[CdcStream.routeNet]]); the
    *     write records the buckets it touches, so no driver `collect`
    *     runs;
    *  2. the touched keys' OLD rows are read, pruned to those buckets,
    *     and paired with the net — each index's old value as one
    *     column ([[withOldValues]]) — in one materialization;
    *  3. CONCURRENTLY: every index commits its delta (at most one row
    *     per (value, key), so it routes without a per-key window), and
    *     the primary STAGES its merge — every Spark job, nothing
    *     published;
    *  4. once every index has published, the cursors are pre-stamped
    *     and the primary publishes from the calling thread (metadata
    *     only; the net's files become its feed entry).
    * With two eager indexes and a change feed that is 13 Spark jobs
    * (`SecondaryIndexSpec` guards the count). A failed step cancels
    * the concurrent jobs and deletes the primary's staging dir; a
    * crashed writer's staging dir is debris the next commits sweep.
    *
    * `conditionalOrder` composes GSI maintenance with the ORDER-
    * CONDITIONAL merge (out-of-order batches: replays, backfills,
    * late partitions). The index delta is then the POST-STATE DIFF,
    * not the batch: per key, the incoming net row transitions the
    * state only when it WINS the merge's order compare against the
    * stored row — or against a stored TOMBSTONE at its recorded order
    * (the old-value read keeps tombstones for exactly this compare,
    * [[CdcStream.readReplicaForKeysWithTombstones]]). A late-LOSING
    * row contributes NOTHING to any index: it must neither erase the
    * winning entry (no delete of the stored value), nor insert its
    * own (no upsert of a value the store never held), nor resurrect
    * an entry on a tombstoned key. The per-key winner set is computed
    * ONCE with the merge's exact tie rule (greatest order wins,
    * incoming wins exact ties) and every index derives from it; the
    * crash-replay invariant is unchanged because the replay's
    * old-state read still sees the unmerged primary and recomputes
    * the identical winner set. Index stores themselves stay
    * sequence-merged: deltas are state transitions in commit order by
    * construction, so arrival order IS the correct winner rule there.
    */
  def applyBatchWithIndexes(
      spark: SparkSession,
      primaryDir: String,
      specs: Seq[IndexSpec],
      batch: DataFrame,
      idCols: Seq[String],
      orderColNames: Seq[String],
      opCol: String = "op",
      numBuckets: Int = CdcStream.DefaultReplicaBuckets,
      watermark: Option[Long] = None,
      recordChanges: Boolean = false,
      deferPrimaryMerge: Boolean = false,
      conditionalOrder: Boolean = false): Unit = {
    require(specs.nonEmpty, "applyBatchWithIndexes: at least one index")
    require(specs.map(_.dir).distinct.size == specs.size,
      "applyBatchWithIndexes: index dirs must be distinct")
    // cursor gate (metadata-only, before any job): each index must be
    // in sync with the primary's current state — or one ahead (the
    // crash-redo window: indexes committed, the primary commit was
    // lost; this very call is the documented replay)
    val curV = CdcStream.replicaCurrentVersion(primaryDir).getOrElse(0L)
    specs.foreach(sp => checkCursor(primaryDir, sp.dir,
      expectedAt = curV, redoAt = curV + 1, op = "applyBatchWithIndexes"))
    val orderCols = orderColNames.map(col)
    val conditional = if (conditionalOrder) Some(orderCols) else None
    // the ROUTED net serves every consumer: the old-value read, the
    // primary merge, and every index batch derive from it. A batch the
    // primary's schema contract refuses fails here, before any store
    // commits.
    val primary = CdcStream.routeNet(primaryDir, batch, batch.columns,
      idCols, opCol, numBuckets, watermark, recordChanges, conditional,
      reduceBy = Some(orderCols), defer = deferPrimaryMerge)
    try {
      if (primary.touched.nonEmpty) {
        // OLD rows for exactly the touched keys (key-pruned read, O(batch
        // keys)) — read BEFORE the primary merge overwrites them. Under
        // conditionalOrder the read KEEPS tombstones: their recorded
        // order values must join the winner compare, or a losing late
        // update on a dead key would look like a fresh insert.
        val pairs = withOldValues(primary.net,
          CdcStream.readCommitKeys(spark, primary,
            keepDeletes = conditionalOrder),
          specs, idCols, orderColNames, conditionalOrder)
        // INDEXES COMMIT FIRST. A crash during the commits then leaves
        // a SUBSET of indexes AHEAD by one batch — the replay recomputes
        // the SAME dels/ups from the still-unmerged primary and each
        // index re-apply converges (idempotent content); the recovery
        // argument is per-index, so the commits need no mutual order.
        // The primary's stage runs beside them: it publishes nothing, so
        // the index-first order holds. Committing the primary first would
        // be the unrecoverable order: the replay's old-value read would
        // run against the already-merged primary, see old == new, compute
        // an EMPTY stale-delete set, and the pre-batch (old value, key)
        // entries would accrete forever — read-repair hides them from
        // [[lookupByIndex]], but [[lookupCovered]] would serve them.
        // Forward entries in the crash window are the benign direction:
        // the verified lookup drops them (no primary row to confirm
        // against) and the replay erases the window.
        commitIndexes(spark, pairs, specs, idCols, orderColNames, opCol,
          alongside = if (deferPrimaryMerge) Nil else Seq(() => primary.stage()))
        // cursor: pre-stamp the version the primary commit below will
        // create — a crash between here and that commit leaves the
        // cursor one AHEAD, the redo window the entry check allows
        specs.foreach(sp => recordAppliedPrimaryVersion(sp.dir, curV + 1))
        // the primary may defer: the old-value read above already
        // resolved against the pre-commit fold, and the NEXT batch's
        // old-value read folds this commit's delta like any reader
        if (deferPrimaryMerge)
          CdcStream.applyNetToReplica(primaryDir, primary.net,
            primary.net.columns, idCols, opCol, numBuckets = numBuckets,
            watermark = watermark, recordChanges = recordChanges,
            conditional = conditional, defer = true)
        else primary.publish()
      }
      // re-stamp with the primary's ACTUAL current version: fixes the
      // pre-stamp after an interleaved maintenance commit took the
      // pre-stamped number, and stamps a net-empty batch (nothing
      // committed anywhere) at the current version — the cursor must
      // point at real, reconcilable state
      val landed = CdcStream.replicaCurrentVersion(primaryDir).getOrElse(0L)
      specs.foreach(sp => recordAppliedPrimaryVersion(sp.dir, landed))
    } finally primary.abort()
  }

  /** The net's rows, each paired with every index's OLD value — the
    * indexed expression over the key's stored live row, as column
    * `__old_<i>` for `specs(i)` (null: no live stored row). `old` holds
    * the stored rows of the net's keys (None: nothing stored, e.g. a
    * fresh store). One window per key over (stored ∪ net) does the
    * pairing. Under `conditional` it also keeps only the net rows
    * whose arrival CHANGES the post-state: those that win the merge's
    * exact order compare (greatest order tuple across {stored live row
    * | tombstone, incoming}, incoming wins exact ties — the same window
    * the eager merge runs); losing rows leave every index untouched.
    */
  private def withOldValues(net: DataFrame, old: Option[DataFrame],
      specs: Seq[IndexSpec], idCols: Seq[String], orderColNames: Seq[String],
      conditional: Boolean): DataFrame = {
    val olds = specs.indices.map(i => s"__old_$i")
    old match {
      case None =>
        net.select(net.columns.toSeq.map(col) ++
          specs.zip(olds).map { case (sp, o) =>
            lit(null).cast(net.select(sp.expr).schema.head.dataType).as(o)
          }: _*)
      case Some(o) =>
        // the old values derive from the stored rows' OWN types, before
        // the union can widen a column
        val live = if (conditional) !col(CdcStream.Tombstone) else lit(true)
        val stored = o.select(idCols.map(col) ++
          (if (conditional) orderColNames.map(col) else Nil) ++
          specs.zip(olds).map { case (sp, n) => when(live, sp.expr).as(n) } :+
          lit(0).as("__incoming"): _*)
        val all = stored.unionByName(net.withColumn("__incoming", lit(1)),
          allowMissingColumns = true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(idCols.map(col): _*)
          .orderBy(((if (conditional) orderColNames.map(c => col(c).desc)
            else Nil) :+ col("__incoming").desc): _*)
        val whole = w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
        all
          .select(all.columns.toSeq.filterNot(olds.contains).map(col) ++
            olds.map(n => first(col(n), ignoreNulls = true).over(whole).as(n)) :+
            row_number().over(w).as("__rn"): _*)
          .filter(col("__rn") === 1 && col("__incoming") === 1)
          .select((net.columns.toSeq ++ olds).map(col): _*)
    }
  }

  /** One index's delete/upsert batch from [[withOldValues]]' rows: a
    * DELETE of `(old value, key)` wherever the key's indexed value
    * moved or the key died (stale-pointer removal), an UPSERT of `(new
    * value, key)` for every surviving key. The net holds one row per
    * key, so the batch holds at most one row per `(value, key)` — a
    * delete is only emitted when old ≠ new — and commits without a
    * per-key window. includeCols makes the index COVERING (the
    * DynamoDB projected-attributes shape): the listed batch columns
    * are stored in the index entry, so [[lookupCovered]] answers from
    * the index alone.
    */
  private def indexDelta(rows: DataFrame, i: Int, sp: IndexSpec,
      idCols: Seq[String], orderColNames: Seq[String],
      opCol: String): DataFrame = {
    val j = rows.withColumn("__new_idx", when(col(opCol) =!= "delete", sp.expr))
    val oldIdx = col(s"__old_$i")
    val carry = (idCols ++ orderColNames ++ sp.includeCols).distinct
    val dels = j.filter(oldIdx.isNotNull &&
        (col("__new_idx").isNull || col("__new_idx") =!= oldIdx))
      .select((oldIdx.as(sp.name) +: carry.map(col)) :+
        lit("delete").as(opCol): _*)
    val ups = j.filter(col("__new_idx").isNotNull)
      .select((col("__new_idx").as(sp.name) +: carry.map(col)) :+
        lit("update").as(opCol): _*)
    dels.unionByName(ups)
  }

  /** Commit every index's delta batch ([[indexDelta]] over `pairs`,
    * from [[withOldValues]]): value-routed (`bucketCols = [name]`),
    * eager or deferred per spec, CONCURRENTLY beside the `alongside`
    * tasks ([[ConcurrentJobs.run]]). `pairs` is materialized once when
    * several indexes read it; `after` runs once an index's commit has
    * landed.
    */
  private def commitIndexes(spark: SparkSession, pairs: DataFrame,
      specs: Seq[IndexSpec], idCols: Seq[String], orderColNames: Seq[String],
      opCol: String, alongside: Seq[() => Unit] = Nil,
      after: IndexSpec => Unit = _ => ()): Unit = {
    val (rows, drop) =
      if (specs.size > 1)
        graft.llm.IndexArtifacts.materializeTyped(spark, pairs, "gsi-net-old")
      else (pairs, () => ())
    try ConcurrentJobs.run(spark, specs.zipWithIndex.map { case (sp, i) => () =>
      val delta = indexDelta(rows, i, sp, idCols, orderColNames, opCol)
      CdcStream.applyNetToReplica(sp.dir, delta, delta.columns,
        sp.name +: idCols, opCol, CdcStream.DefaultReplicaBuckets,
        bucketCols = Some(Seq(sp.name)), defer = sp.defer)
      after(sp)
    } ++ alongside)
    finally drop()
  }

  /** FEED-DRIVEN index maintenance: catch index(es) up by replaying
    * ONE committed feed version of the primary through the incremental
    * delete/upsert derivation — at DELTA cost, never a primary scan.
    * The sanctioned cheap recovery after [[CdcStream.restoreReplica]]
    * on an indexed primary: a restore's feed entry IS a delta batch
    * (the divergence-sized rollback diff), so replaying it converges
    * the existing index to the rolled-back state for the price of the
    * diff — where [[buildIndex]] pays a full primary scan.
    *
    * The OLD indexed values resolve against the primary AT
    * `version - 1` (the key-pruned time-travel read): the state the
    * feed version's net was applied over. Works for any recorded
    * version whose predecessor is still readable — i.e. an index
    * follower may lag and replay versions in order. Refuses when the
    * version recorded no changes or the predecessor was GC'd (rebuild
    * via [[buildIndex]] instead).
    */
  def maintainIndexesFromFeed(
      spark: SparkSession,
      primaryDir: String,
      specs: Seq[IndexSpec],
      version: Long,
      idCols: Seq[String],
      orderColNames: Seq[String],
      opCol: String = "op"): Unit = {
    require(specs.nonEmpty, "maintainIndexesFromFeed: at least one index")
    // BOTH refusal checks are pure metadata — run them before any
    // Spark job or materialization is paid for a call that rejects
    if (!new java.io.File(primaryDir, f"v$version%09d/changes").isDirectory)
      throw new IllegalStateException(
        s"maintainIndexesFromFeed: version $version of $primaryDir " +
          "recorded no changes — rebuild via buildIndex instead")
    // predecessor dir gone = the old values are unknowable — refuse
    // rather than accrete stale pointers forever
    if (version > 1 &&
        !CdcStream.replicaVersions(primaryDir).contains(version - 1))
      throw new IllegalStateException(
        s"maintainIndexesFromFeed: version ${version - 1} of " +
          s"$primaryDir was GC'd — the old indexed values are " +
          "unknowable; rebuild via buildIndex")
    // cursor gate: each index must reflect the version's predecessor
    // state (content-identical gaps — compactions the feed correctly
    // skips — step over), or the version itself (idempotent redo)
    specs.foreach(sp => checkCursor(primaryDir, sp.dir,
      expectedAt = version - 1, redoAt = version,
      op = "maintainIndexesFromFeed"))
    val feed = CdcStream.readReplicaChanges(spark, primaryDir,
        version - 1, Some(version)).getOrElse(
      throw new IllegalStateException(
        s"maintainIndexesFromFeed: version $version of $primaryDir " +
          "recorded no changes — rebuild via buildIndex instead"))
    val (net, dropNet) = graft.llm.IndexArtifacts.materializeOwned(spark,
      feed.drop("_commit_version", "_commit_watermark"), "gsi-feed-net")
    try {
      val keys = net.select(idCols.map(col): _*).distinct()
      // concurrent per-index commits (r16): each index stamps right
      // after ITS OWN commit, so a crash mid-way leaves applied
      // indexes at `version` (redo-allowed) and unapplied ones at
      // `version - 1` (catch up) — exactly the serial loop's states,
      // just reachable in any subset order
      commitIndexes(spark,
        withOldValues(net,
          CdcStream.readReplicaForKeysAt(spark, primaryDir, version - 1,
            idCols, keys),
          specs, idCols, orderColNames, conditional = false),
        specs, idCols, orderColNames, opCol,
        after = sp => recordAppliedPrimaryVersion(sp.dir, version))
    } finally dropNet()
  }

  /** RANGE catch-up for a lagging index follower: converge index(es)
    * from primary state `fromVersionExclusive` to `toVersion` in ONE
    * delta-sized apply per index — the multi-version form of
    * [[maintainIndexesFromFeed]], with the same refusal semantics
    * (erase / recordChanges=false content commits in the range refuse
    * via the feed's commit-kind classification; a GC'd range version
    * is a feed gap; a GC'd range-start state makes the old values
    * unknowable — rebuild via [[buildIndex]] instead).
    *
    * The per-version old-value reads FOLD where the versions chain:
    * the index holds each touched key's value as of the range START
    * (intermediate values never reached it — it lagged), so the only
    * stale entries to delete are `(value@start, key)` and the only
    * entries to write are `(value@end, key)` for surviving keys. ONE
    * key-pruned time-travel read at the range start supplies every old
    * value; the composed net (last op per key by commit version, then
    * the batch order columns) supplies the new — intermediate feed
    * versions contribute only their votes in that window, never an
    * index commit. Spec-pinned equal to the version-by-version replay.
    *
    * Cost: O(range feed rows) + one key-pruned read + one delta-sized
    * merge per index — against O(versions) commits for the loop form.
    */
  def maintainIndexesFromFeedRange(
      spark: SparkSession,
      primaryDir: String,
      specs: Seq[IndexSpec],
      fromVersionExclusive: Long,
      toVersion: Long,
      idCols: Seq[String],
      orderColNames: Seq[String],
      opCol: String = "op"): Unit = {
    require(specs.nonEmpty, "maintainIndexesFromFeedRange: at least one index")
    require(toVersion > fromVersionExclusive,
      s"maintainIndexesFromFeedRange: empty range ($fromVersionExclusive, " +
        s"$toVersion]")
    // metadata gates first (the single-version API's discipline):
    // range-start state must be readable for the old values…
    if (fromVersionExclusive > 0 && !CdcStream.replicaVersions(primaryDir)
        .contains(fromVersionExclusive))
      throw new IllegalStateException(
        s"maintainIndexesFromFeedRange: version $fromVersionExclusive of " +
          s"$primaryDir was GC'd — the old indexed values are unknowable; " +
          "rebuild via buildIndex")
    // …and each index must sit AT the range start (content-identical
    // gaps step over) or already at the range end (idempotent redo)
    specs.foreach(sp => checkCursor(primaryDir, sp.dir,
      expectedAt = fromVersionExclusive, redoAt = toVersion,
      op = "maintainIndexesFromFeedRange"))
    // the feed read classifies every range version: gaps throw, erase /
    // unrecorded content commits throw, compact/reshard contribute
    // nothing (correct — content-identical)
    val feed = CdcStream.readReplicaChanges(spark, primaryDir,
      fromVersionExclusive, Some(toVersion))
    val orderCols = orderColNames.map(col)
    feed match {
      case None =>
        // every range version is content-identical (or a legacy
        // changeless commit, which every feed surface skips): the
        // indexes already reflect the range end
        specs.foreach(sp => recordAppliedPrimaryVersion(sp.dir, toVersion))
      case Some(f) =>
        // composed net: last op per key across the WHOLE range, commit
        // version leading the order so later versions win regardless
        // of the batch order columns' values
        val (net, dropNet) = graft.llm.IndexArtifacts.materializeOwned(spark,
          CdcStream.lastOpPerKey(f, idCols,
              col("_commit_version") +: orderCols)
            .drop("_commit_version", "_commit_watermark"), "gsi-range-net")
        try {
          val keys = net.select(idCols.map(col): _*).distinct()
          // same concurrent shape as the single-version replay: each
          // index stamps after its own commit (r16)
          commitIndexes(spark,
            withOldValues(net,
              if (fromVersionExclusive == 0) None
              else CdcStream.readReplicaForKeysAt(spark, primaryDir,
                fromVersionExclusive, idCols, keys),
              specs, idCols, orderColNames, conditional = false),
            specs, idCols, orderColNames, opCol,
            after = sp => recordAppliedPrimaryVersion(sp.dir, toVersion))
        } finally dropNet()
    }
  }

  /** BOOTSTRAP an index over an EXISTING primary — CREATE INDEX. One
    * pass over the primary's CURRENT state (fold included: pending
    * merge-on-read deltas resolve like any read) writes every live
    * key's entry into a FRESH index store with exactly the incremental
    * maintenance's entry shape — same key columns (`name +: idCols`),
    * same value-only bucket routing, same covering projection — so
    * [[applyBatchWithIndexes]] composes from the next batch on and
    * every lookup path works unchanged.
    *
    * Also the sanctioned recovery after [[CdcStream.restoreReplica]]
    * on an indexed primary: a restore rolls the primary back
    * metadata-only, leaving any index stale by design — rebuild into a
    * fresh dir and swap it in.
    *
    * Cost is one primary scan + one value-routed write — O(store),
    * inherent to index creation, with no driver materialization.
    * Refuses a dir that already holds a store: an in-place rebuild
    * racing readers has no safe ordering; build fresh and swap.
    *
    * QUIESCENCE is VERIFIED, not assumed: the primary's version is
    * pinned before the snapshot read and re-checked after the index
    * commit. A batch applied to the primary between the snapshot and
    * the first post-bootstrap [[applyBatchWithIndexes]] would be
    * PERMANENTLY missing from the index (neither the bootstrap nor
    * later incremental maintenance would ever emit its entries), so a
    * moved version throws — delete the fresh dir and rebuild, or
    * fence the primary ([[CdcStream.freezeReplica]]) for the build's
    * duration. Returns the pinned primary version: incremental
    * maintenance must resume from exactly that version's state.
    */
  def buildIndex(
      spark: SparkSession,
      primaryDir: String,
      spec: IndexSpec,
      idCols: Seq[String],
      orderColNames: Seq[String],
      opCol: String = "op",
      numBuckets: Int = CdcStream.DefaultReplicaBuckets): Long = {
    require(CdcStream.replicaVersions(spec.dir).isEmpty,
      s"buildIndex: ${spec.dir} already holds a store — rebuild into a " +
        "fresh dir and swap (an in-place rebuild racing readers has no " +
        "safe ordering)")
    // pin the POINTER's version, not the max version dir: a crashed
    // writer's unpublished orphan can sit above CURRENT and is not
    // state — pinning it would skew both the quiescence check and the
    // resume-from version
    val pinned = CdcStream.replicaCurrentVersion(primaryDir)
      .getOrElse(throw new IllegalStateException(
        s"buildIndex: primary $primaryDir has no committed version"))
    val state = CdcStream.readReplica(spark, primaryDir).getOrElse(
      throw new IllegalStateException(
        s"buildIndex: primary $primaryDir has no committed version"))
    val carry = (idCols ++ orderColNames ++ spec.includeCols).distinct
    val entries = state
      .select((spec.expr.as(spec.name) +: carry.map(col)) :+
        lit("update").as(opCol): _*)
      .filter(col(spec.name).isNotNull)
    // eager merge for the bootstrap: one base write per bucket beats a
    // delta the first read would immediately fold
    CdcStream.applyBatchToReplica(spec.dir, entries,
      idCols = spec.name +: idCols, orderCols = orderColNames.map(col),
      opCol = opCol, numBuckets = numBuckets,
      bucketCols = Some(Seq(spec.name)))
    val after = CdcStream.replicaCurrentVersion(primaryDir)
    if (!after.contains(pinned)) throw new IllegalStateException(
      s"buildIndex: primary $primaryDir advanced from v$pinned to " +
        s"v${after.getOrElse(-1L)} during the bootstrap — the batch(es) " +
        "committed mid-build are missing from the index; delete " +
        s"${spec.dir} and rebuild (or freeze the primary for the build)")
    // stamp the fresh store with the pinned version: incremental and
    // feed-driven maintenance now REFUSE anything but in-order resume
    // from exactly this state (the quiescence check just proved it)
    recordAppliedPrimaryVersion(spec.dir, pinned)
    pinned
  }

  /** SHALLOW-CLONE an INDEXED primary: clone the primary store and
    * each index store (both zero-copy — [[CdcStream.cloneReplica]],
    * one manifest apiece), then stamp each cloned index's
    * applied-version cursor at the clone's INITIAL version. Sound
    * because the clone's initial content IS the source's current
    * content and each source index provably reflected exactly that
    * state: the call refuses — before any commit — a source index
    * whose cursor is missing (unverifiable freshness: rebuild via
    * [[buildIndex]] first) or cannot be reconciled to the source's
    * current version (lagging past a content commit, or one-ahead in
    * an unrecovered crash window — recover the source first).
    *
    * Crash recovery is idempotent re-run: a target whose CURRENT
    * version carries [[CdcStream.cloneProvenance]] for the same
    * source is this clone's own durable commit and skips (the cursor
    * re-stamps — it may have been the crash point); any other
    * occupied target refuses. `indexes` pairs (source index dir →
    * clone index dir).
    *
    * Returns the clone's initial version.
    */
  def cloneIndexedReplica(srcPrimary: String, dstPrimary: String,
      indexes: Seq[(String, String)]): Long = {
    val srcAbs = new java.io.File(srcPrimary).getAbsolutePath
    val srcV = CdcStream.replicaCurrentVersion(srcAbs).getOrElse(
      throw new IllegalStateException(
        s"cloneIndexedReplica: $srcPrimary has no committed version"))
    // refusals run BEFORE any commit, so a bad composition changes nothing
    indexes.foreach { case (srcIdx, _) =>
      if (appliedPrimaryVersion(srcIdx).isEmpty)
        throw new IllegalStateException(
          s"cloneIndexedReplica: index $srcIdx records no applied-version " +
            "cursor — its freshness is unverifiable; rebuild it via " +
            "buildIndex before cloning")
      checkCursor(srcAbs, srcIdx, expectedAt = srcV, redoAt = srcV,
        op = "cloneIndexedReplica")
    }
    val cloneV = srcV + 1
    // retry-skip matches the exact (source, version) PAIR: a source
    // that advanced between a crash and the retry must refuse, or the
    // cursor below would stamp the clone's OLD content as current
    CdcStream.cloneOrSkip(srcAbs, dstPrimary, srcV)
    indexes.foreach { case (srcIdx, dstIdx) =>
      val idxV = CdcStream.replicaCurrentVersion(srcIdx).getOrElse(
        throw new IllegalStateException(
          s"cloneIndexedReplica: index $srcIdx has no committed version"))
      CdcStream.cloneOrSkip(srcIdx, dstIdx, idxV)
      // stamp AFTER the index clone commits (and re-stamp on retry —
      // the stamp itself may have been the crash point)
      recordAppliedPrimaryVersion(dstIdx, cloneV)
    }
    cloneV
  }

  /** Equality lookup THROUGH the index: `values` carries one column
    * named `idxName`; the index read prunes to the values' buckets,
    * the hit keys drive a key-pruned primary read, and the result is
    * verified against the primary's CURRENT indexed value (read
    * repair: the index-ahead crash window's forward entries have no
    * primary row to confirm against and drop). The window's other
    * face is a transient UNDER-return — a moved key's old-value entry
    * is already deleted while the primary still holds the old row —
    * closed by the batch replay; only the batch in flight at the
    * crash is affected. Cost: O(hit buckets + hit keys), never
    * O(table). The index hits are collected once (one job) and drive
    * the primary read as a local key set, so with a local `values`
    * (a `Seq(...).toDF`) buckets and key filters resolve on the driver
    * and the lookup runs two Spark jobs: the hit collect and the
    * caller's read of the primary.
    */
  def lookupByIndex(
      spark: SparkSession,
      primaryDir: String,
      indexDir: String,
      idCols: Seq[String],
      idxExpr: Column,
      idxName: String,
      values: DataFrame): DataFrame = {
    val entries = CdcStream.readReplicaForKeys(spark, indexDir,
      Seq(idxName), values)
    entries match {
      case Some(e) =>
        import scala.jdk.CollectionConverters._
        val hits = e.select(idCols.map(col): _*)
        val keys = spark.createDataFrame(
          hits.collect().distinct.toSeq.asJava, hits.schema)
        CdcStream.readReplicaForKeys(spark, primaryDir, idCols, keys) match {
          case Some(rows) =>
            // read repair against the values as the index types them
            val typed = values.select(
              col(idxName).cast(e.schema(idxName).dataType).as(idxName))
            val withIdx = rows.withColumn(idxName, idxExpr)
            CdcStream.localRows(typed) match {
              case Some(vs) => withIdx.filter(CdcStream.tupleIn(Seq(idxName),
                typed.schema.map(_.dataType), vs))
              case None => withIdx.join(broadcast(values.select(col(idxName))),
                Seq(idxName), "left_semi")
            }
          case None => emptyLike(spark, e, idCols, idxName)
        }
      case None =>
        CdcStream.readReplica(spark, primaryDir) match {
          case Some(rows) => rows.withColumn(idxName, idxExpr).limit(0)
          case None => values.limit(0)
        }
    }
  }

  private def emptyLike(spark: SparkSession, e: DataFrame,
      idCols: Seq[String], idxName: String): DataFrame =
    e.select((idxName +: idCols).map(col): _*).limit(0)

  /** RANGE lookup THROUGH the index via ZONE MAPS: serve
    * `idxName ∈ [lo, hi]` (inclusive; open ends via Long.Min/MaxValue)
    * without enumerating the range's values. Hash routing alone can
    * only prune EQUALITY probes (an IN-list of bands —
    * `cdc_index_range`); an unbounded or wide range has no finite
    * enumeration. The value-clustered index layout makes parquet
    * footer min/max stats tight per bucket file, so
    * [[CdcStream.readReplicaRange]] drops whole index files that
    * provably miss the range, the surviving entries' keys drive the
    * ordinary key-pruned primary read, and the result is read-repaired
    * against the primary's current indexed value with the EXACT range
    * re-applied. Cost: O(index files) footer metadata + O(overlapping
    * files + hit keys) — never O(table) on either side.
    */
  def lookupByIndexRange(
      spark: SparkSession,
      primaryDir: String,
      indexDir: String,
      idCols: Seq[String],
      idxExpr: Column,
      idxName: String,
      lo: Long, hi: Long): DataFrame = {
    CdcStream.readReplicaRange(spark, indexDir, idxName, lo, hi) match {
      case Some((entries, _, _)) =>
        val keys = entries.select(idCols.map(col): _*).distinct()
        CdcStream.readReplicaForKeys(spark, primaryDir, idCols, keys) match {
          case Some(rows) =>
            val withIdx = rows.withColumn(idxName, idxExpr)
            // UNIT PARITY with readReplicaRange's footer-stat compare:
            // a timestamp-typed index expression's parquet min/max are
            // epoch MICROS, so the read-repair must compare micros too
            // — cast("long") on a timestamp yields SECONDS and would
            // silently empty the result for micros bounds
            val asLong =
              if (withIdx.schema(idxName).dataType ==
                  org.apache.spark.sql.types.TimestampType)
                org.apache.spark.sql.functions.unix_micros(col(idxName))
              else col(idxName).cast("long")
            withIdx.filter(asLong.between(lo, hi))
          case None => emptyLike(spark, entries, idCols, idxName)
        }
      case None =>
        CdcStream.readReplica(spark, primaryDir) match {
          case Some(rows) => rows.withColumn(idxName, idxExpr).limit(0)
          case None =>
            spark.range(0).select(col("id").as(idxName)).limit(0)
        }
    }
  }

  /** COVERED equality lookup: answer entirely from the index — one
    * bucket read, the primary untouched (the DynamoDB projected-
    * attributes read). Valid when the index was maintained with
    * `includeCols` carrying every column the caller needs. Trade
    * against [[lookupByIndex]]: no read-repair — under the
    * synchronized-maintenance contract (sink marker after both
    * commits; index commits first; replays converge) the index is
    * exact, but a reader racing the crash window between the two
    * commits can observe one batch of FORWARD entries (rows the
    * primary has not committed yet) that the verified lookup would
    * have dropped. Nothing is ever permanently stale: the replay
    * closes the window.
    */
  def lookupCovered(
      spark: SparkSession,
      indexDir: String,
      idxName: String,
      values: DataFrame): DataFrame =
    CdcStream.readReplicaForKeys(spark, indexDir, Seq(idxName), values)
      .getOrElse(values.limit(0))
}
