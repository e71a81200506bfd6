package graft.llm

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.AtomicFiles
import graft.streaming.CdcStream
import TextOps._

/** Incremental near-dup cluster maintenance — the streaming twin of the
  * batch label pipeline ([[DedupQueries]]): a micro-batch of NEW
  * documents updates the cluster labels without recomputing the graph.
  *
  * State under `stateDir` (the LSH index as persisted tables — the
  * continuous-ingestion shape of the batch pipeline's artifacts):
  *
  *  - `shingles/`, `bands/`: APPEND-ONLY parquet — each batch adds only
  *    its own docs' rows;
  *  - `labels/`: the `(doc_id, label)` table, upserted through the
  *    bucket-scoped versioned replica store
  *    ([[CdcStream.applyBatchToReplica]]) — label changes are a MERGE,
  *    so only touched buckets rewrite and the flip is atomic.
  *
  * Per batch: new docs' bands join the persisted band index (plus the
  * batch's own bands) for candidates touching a new doc — pairs wholly
  * inside the old corpus were found by earlier batches, so coverage
  * over the union corpus is complete. Exact-Jaccard verification uses
  * the persisted shingle table. Label propagation then runs ONLY over
  * the affected subgraph: new verified edges plus, for every existing
  * component they touch, its members' star edges `(member, label)` —
  * the representative already encodes old connectivity, so merged
  * components relabel correctly without replaying their original edges.
  * Untouched components are never read, let alone recomputed: per-batch
  * cost scales with the batch's neighborhood, not the corpus.
  */
object IncrementalClusters {

  private def tbl(stateDir: String, name: String): String = s"$stateDir/$name"

  private def readOrEmpty(s: SparkSession, path: String,
      schemaOf: DataFrame): DataFrame =
    if (Files.exists(Paths.get(path))) s.read.parquet(path)
    else schemaOf.limit(0)

  /** Current labels: `(doc_id, label)` for every doc in a near-dup
    * cluster (same contract as the batch pipeline). Empty before the
    * first batch.
    */
  def labels(s: SparkSession, stateDir: String): DataFrame = {
    import s.implicits._
    CdcStream.readReplica(s, tbl(stateDir, "labels"))
      .map(_.select($"doc_id", $"label"))
      .getOrElse(Seq.empty[(Long, Long)].toDF("doc_id", "label"))
  }

  /** Apply one micro-batch of new documents `(doc_id, text)` —
    * `foreachBatch` body. IDEMPOTENT under micro-batch replay: docs
    * whose ids are already in the shingle index are filtered out before
    * anything is computed or appended, so a batch redelivered after a
    * crash (appends done, checkpoint commit lost) is a no-op rather
    * than a permanent duplication of index rows. (Re-ingesting a
    * CHANGED doc under an existing id is a different operation — the
    * old shingles would have to be retired first.)
    */
  def update(s: SparkSession, stateDir: String, docs: DataFrame): Unit = {
    import s.implicits._
    Seq("shingles", "bands", "edges").foreach(recoverSwap(stateDir, _))
    val incoming = docs.select($"doc_id", hashedShingles($"text").as("sh"))
      .filter(size($"sh") > 0)
    val oldShPath = tbl(stateDir, "shingles")
    val deduped =
      if (!Files.exists(Paths.get(oldShPath))) incoming
      else incoming.join(s.read.parquet(oldShPath).select($"doc_id"),
        Seq("doc_id"), "left_anti")
    // per-batch artifacts are deleted before returning: a long-lived
    // stream must not grow temp disk with every trigger; emptiness
    // gates read the written FOOTERS (no extra job)
    val (newSh, nNew, dropSh) =
      IndexArtifacts.materializeCounted(s, deduped, "inc-shingles")
    try {
      if (nNew == 0L) return
      updateWith(s, stateDir, newSh)
    } finally dropSh()
  }

  private def updateWith(s: SparkSession, stateDir: String,
      newSh: DataFrame): Unit = {
    import s.implicits._
    // NOT materialized: bands are a narrow projection of the already-
    // materialized shingle table — both consumers (candidate join,
    // state append) recompute them from that scan for less than a
    // write+read round-trip at any batch size
    val newBands = DedupQueries.minhashBands(newSh)

    val oldSh = readOrEmpty(s, tbl(stateDir, "shingles"), newSh)
    val oldBands = readOrEmpty(s, tbl(stateDir, "bands"), newBands)
    val allBands = oldBands.unionByName(newBands)

    // candidates with at least one NEW endpoint: new × (old ∪ new) band
    // equi-join, normalized to doc_a < doc_b
    val cand = newBands.as("bx").join(allBands.as("by"),
        col("bx.band") === col("by.band") && col("bx.bh") === col("by.bh") &&
          col("bx.doc_id") =!= col("by.doc_id"))
      .select(least(col("bx.doc_id"), col("by.doc_id")).as("doc_a"),
        greatest(col("bx.doc_id"), col("by.doc_id")).as("doc_b"))
      .distinct()
    val allSh = oldSh.unionByName(newSh)
    graft.functions.GraftFunctions.register(s)
    val (pairs, nPairs, dropPairs) = IndexArtifacts.materializeCounted(s, cand
      .join(allSh.select($"doc_id".as("doc_a"), $"sh".as("sa")), "doc_a")
      .join(allSh.select($"doc_id".as("doc_b"), $"sh".as("sb")), "doc_b")
      .withColumn("nc", expr("sorted_intersect_count(sa, sb)"))
      .filter(($"nc".cast("double") /
        (size($"sa") + size($"sb") - $"nc").cast("double")) >= 0.3)
      .select($"doc_a", $"doc_b"), "inc-pairs")
    try updateLabelsAndIndex(s, stateDir, newSh, newBands, pairs, nPairs)
    finally dropPairs()
  }

  private def updateLabelsAndIndex(s: SparkSession, stateDir: String,
      newSh: DataFrame, newBands: DataFrame, pairs: DataFrame,
      nPairs: Long): Unit = {
    import s.implicits._
    if (nPairs > 0L) {
      val newEdges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      val newSym = newEdges
        .unionByName(newEdges.select($"dst".as("src"), $"src".as("dst")))
      // FIRST batch (no label store yet): there are no old components
      // to preserve — skip the star-edge machinery and its broadcast
      // jobs entirely
      val adj = if (!Files.exists(Paths.get(tbl(stateDir, "labels")))) newSym
      else {
        val oldLabels = labels(s, stateDir)
        // components the new edges touch: every member contributes a
        // star edge to its representative, so old connectivity is
        // preserved without the original pair edges
        val endpoints = pairs
          .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
        val touched = oldLabels.join(broadcast(endpoints), "doc_id")
          .select($"label").distinct()
        val affected = oldLabels.join(broadcast(touched), "label")
          .select($"doc_id", $"label")
        val star = affected.filter($"doc_id" =!= $"label")
          .select($"doc_id".as("src"), $"label".as("dst"))
        newSym
          .unionByName(star)
          .unionByName(star.select($"dst".as("src"), $"src".as("dst")))
      }
      val (propagated, release) = DedupQueries.propagateMinLabels(adj)
      // MERGE the label changes: only affected docs' buckets rewrite
      CdcStream.applyBatchToReplica(tbl(stateDir, "labels"),
        propagated.select($"doc_id", $"label", lit("update").as("op")),
        idCols = Seq("doc_id"), orderCols = Seq(col("label")))
      release()
    }

    // index appends LAST: a crash before this point replays the batch
    // against the old index (the labels upsert is idempotent), and a
    // replay after a completed append is screened out by the
    // already-indexed-ids filter in update(). EDGES then BANDS append
    // before SHINGLES: the shingle table is the replay screen, so a
    // crash between the appends re-runs the batch and at worst
    // duplicates edge/band rows (harmless — candidates are distinct()
    // and the components fixpoint ignores duplicate edges); the
    // reverse order would silently lose rows of screened-out docs.
    if (nPairs > 0L)
      pairs.write.mode("append").parquet(tbl(stateDir, "edges"))
    newBands.write.mode("append").parquet(tbl(stateDir, "bands"))
    newSh.write.mode("append").parquet(tbl(stateDir, "shingles"))
  }

  // --------------------------------------------------- document retirement

  /** Retire documents from the index — the other half of the
    * changed-doc re-ingest cycle [[update]]'s scaladoc calls out: a
    * doc whose content changed (or must be forgotten — a takedown) is
    * first retired, then its new content re-ingests as a normal batch
    * under the same id (the already-indexed screen no longer sees it).
    *
    * Semantics: the final labels provably equal a from-scratch build
    * over the corpus MINUS the retired docs (gated by the
    * `llm_cluster_retire` oracle). Pair verification is pairwise, so
    * removing a doc removes exactly its edges; only components that
    * CONTAINED a retired doc recompute — from the persisted edge
    * table, restricted to their members — while untouched components
    * are never read. A bridge doc's removal splits its component; a
    * member left edge-less drops out of the labels table entirely
    * (tombstone through the MERGE).
    *
    * Crash-safe and idempotent: index rewrites go through the same
    * two-phase swap as [[compactState]] (healed by recoverSwap), the
    * label MERGE is keyed, and re-running retire with the same ids is
    * a no-op on the tables and a fixpoint on the labels — a
    * maintenance batch replayed after a crash converges. At 100 TB the
    * table rewrite is the retirement cost; a high-churn deployment
    * batches retirements at compaction cadence (same single-writer
    * maintenance loop), which this API supports by taking a SET.
    */
  def retire(s: SparkSession, stateDir: String, docIds: DataFrame): Unit = {
    import s.implicits._
    Seq("shingles", "bands", "edges").foreach(recoverSwap(stateDir, _))
    if (!Files.exists(Paths.get(tbl(stateDir, "shingles")))) return
    val (ret, nRet, dropRet) = IndexArtifacts.materializeCounted(s,
      docIds.select($"doc_id").distinct(), "retire-ids")
    try {
      if (nRet == 0L) return
      // affected components resolve BEFORE the label store changes
      val lbl = labels(s, stateDir)
      val touched = lbl.join(broadcast(ret), "doc_id")
        .select($"label").distinct()
      val (mem, nMem, dropMem) = IndexArtifacts.materializeCounted(s,
        lbl.join(broadcast(touched), "label").select($"doc_id"),
        "retire-members")
      try {
        // the three table rewrites are independent (distinct tables,
        // each its own crash-safe two-phase swap, and a replayed
        // retire over an already-filtered table is a no-op) — run them
        // as CONCURRENT Spark jobs (guide §2.6: overlap independent
        // jobs) so the second and third fill the executor tail the
        // first leaves idle, instead of paying three serial job
        // latencies (r15)
        val rewrites: Seq[() => Unit] = Seq(
          () => rewriteExcluding(s, stateDir, "shingles")(
            _.join(broadcast(ret), Seq("doc_id"), "left_anti")),
          () => rewriteExcluding(s, stateDir, "bands")(
            _.join(broadcast(ret), Seq("doc_id"), "left_anti")),
          () => rewriteExcluding(s, stateDir, "edges")(
            _.join(broadcast(ret.select($"doc_id".as("doc_a"))),
                Seq("doc_a"), "left_anti")
              .join(broadcast(ret.select($"doc_id".as("doc_b"))),
                Seq("doc_b"), "left_anti")))
        // a failed rewrite must not leave the sibling rewrites running
        // past retire(): the enclosing finallys delete the ret/mem
        // artifacts they read, and an orphan mid two-phase swap would
        // break the single-writer invariant on the error path — the
        // runner cancels and awaits them before rethrowing (the swap
        // itself is replay-safe: recoverSwap handles a torn
        // .next/.trash on the next retire)
        graft.streaming.ConcurrentJobs.run(s, rewrites)
        if (nMem > 0L) {
          // recompute the affected subgraph over the REMAINING edges;
          // component closure means one-endpoint membership implies both
          val edges = readOrEmpty(s, tbl(stateDir, "edges"),
            Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
          val sub = edges.join(broadcast(mem.select($"doc_id".as("doc_a"))),
            Seq("doc_a"))
          val sym = sub.select($"doc_a".as("src"), $"doc_b".as("dst"))
            .unionByName(sub.select($"doc_b".as("src"), $"doc_a".as("dst")))
          val (lab, release) = DedupQueries.propagateMinLabels(sym)
          // members absent from the recomputation lost every edge (or
          // were retired): tombstone them out of the labels table
          val upserts = lab.select($"doc_id", $"label",
            lit("update").as("op"))
          val deletes = mem
            .join(lab.select($"doc_id"), Seq("doc_id"), "left_anti")
            .select($"doc_id", lit(null).cast("long").as("label"),
              lit("delete").as("op"))
          CdcStream.applyBatchToReplica(tbl(stateDir, "labels"),
            upserts.unionByName(deletes), idCols = Seq("doc_id"),
            orderCols = Seq(col("label")))
          release()
        }
      } finally dropMem()
    } finally dropRet()
  }

  /** Content-filtering rewrite of one state table through the same
    * crash-safe two-phase swap as [[compactState]].
    */
  private def rewriteExcluding(s: SparkSession, stateDir: String,
      name: String)(f: DataFrame => DataFrame): Unit = {
    val cur = new File(tbl(stateDir, name))
    if (cur.exists()) {
      val next = new File(tbl(stateDir, name + ".next"))
      f(s.read.parquet(cur.toString))
        .write.mode("overwrite").parquet(next.toString)
      AtomicFiles.swapDir(cur.toPath, next.toPath,
        Paths.get(tbl(stateDir, name + ".trash")))
    }
  }

  // --------------------------------------------------- state compaction

  /** Compact the append-only index tables when they have accumulated
    * more than `maxFiles` part files — the small-file maintenance every
    * streaming index needs: a long-lived stream appends one file set
    * per trigger, and at 100 TB an uncompacted index turns every
    * candidate join's scan into a file-listing storm. Content-identical
    * rewrite (consumers treat both tables as sets), sized at ~one
    * partition per 128 MB.
    *
    * Must run from the same single-writer maintenance loop as
    * [[update]] (no concurrent reader exists there). Crash-safe by
    * two-phase swap: the compacted copy lands in `<name>.next` (parquet
    * `_SUCCESS` marks it complete), the live dir moves to
    * `<name>.trash`, the copy moves in, the trash is deleted; a crash
    * at any point is healed by [[recoverSwap]] on the next update or
    * compaction.
    */
  def compactState(s: SparkSession, stateDir: String, maxFiles: Int = 8): Unit = {
    Seq("shingles", "bands", "edges").foreach { name =>
      recoverSwap(stateDir, name)
      val dir = new File(tbl(stateDir, name))
      if (dir.exists()) {
        val parts = Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        if (parts.length > maxFiles) {
          val bytes = parts.map(_.length()).sum
          val target = math.max(1, (bytes / (128L << 20)).toInt)
          val next = new File(tbl(stateDir, name + ".next"))
          s.read.parquet(dir.toString).coalesce(target)
            .write.mode("overwrite").parquet(next.toString)
          AtomicFiles.swapDir(dir.toPath, next.toPath,
            Paths.get(tbl(stateDir, name + ".trash")))
        }
      }
    }
  }

  /** Heal an interrupted [[compactState]] swap: a completed `.next`
    * (parquet `_SUCCESS` present) with no live dir moves in; stale
    * `.next`/`.trash` leftovers are deleted (the live dir, when
    * present, is always authoritative).
    */
  private def recoverSwap(stateDir: String, name: String): Unit = {
    val cur = new File(tbl(stateDir, name))
    val next = new File(tbl(stateDir, name + ".next"))
    val trash = new File(tbl(stateDir, name + ".trash"))
    if (!cur.exists() && new File(next, "_SUCCESS").exists())
      Files.move(next.toPath, cur.toPath)
    if (cur.exists() && next.exists()) FileUtils.deleteQuietly(next)
    FileUtils.deleteQuietly(trash)
  }
}
