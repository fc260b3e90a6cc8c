package graft.repo

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.meta.{AssetManager, ChunkRef, NodeSpec}
import graft.meta.GraftEncoders._

/** Uncommitted edits of a session (change_set.rs:48-68).
  *
  * Node-level edits are driver-held (hierarchies are small); chunk-level
  * edits are a sequence of staged DataFrame batches plus a driver-side
  * buffer for point writes. Precedence is last-write-wins per (node, coord),
  * resolved lazily by the batch sequence number — the
  * changeset itself never materializes on the driver (the reference caps a
  * commit at 50 M refs, change_set.rs:36; we stream them through Spark).
  */
final class ChangeSet {
  val newNodes: mutable.LinkedHashMap[String, NodeSpec] = mutable.LinkedHashMap()
  val updatedNodes: mutable.LinkedHashMap[String, NodeSpec] = mutable.LinkedHashMap()
  /** path -> nodeType of nodes deleted in this session. */
  val deletedNodes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  /** (nodeId, fromPath, toPath) — move_node (session.rs:857-934). */
  val moves: mutable.ArrayBuffer[(String, String, String)] = mutable.ArrayBuffer()

  /** Arrays whose committed refs must be ignored at flush (reindex/shift
    * rewrite the whole coordinate table — session.rs:935-1071).
    */
  val rewrittenNodes: mutable.Set[String] = mutable.Set()

  // point edits remember the batchSeq at insertion time, so precedence is
  // fully chronological across point writes AND staged batches
  private val pointEdits = mutable.ArrayBuffer[(ChunkRef, Int)]()
  private val stagedBatches = mutable.ArrayBuffer[DataFrame]() // full ChunkRef schema + _batch
  private var batchSeq = 0
  /** (node, coord) sets to drop from our edits (rebase UseTheirs).
    * Private so every mutation goes through [[addExclusion]] and the
    * resolution memo's invalidation is enforced by the type, not by
    * convention (ADVICE r16: a same-size remove+add on the public buffer
    * would have served a stale memo past the size safety net).
    */
  private val exclusions: mutable.ArrayBuffer[DataFrame] = mutable.ArrayBuffer()

  def isEmpty: Boolean =
    newNodes.isEmpty && updatedNodes.isEmpty && deletedNodes.isEmpty &&
      moves.isEmpty && pointEdits.isEmpty && stagedBatches.isEmpty &&
      rewrittenNodes.isEmpty

  def hasChunkChanges: Boolean = pointEdits.nonEmpty || stagedBatches.nonEmpty

  /** True when every chunk edit is a driver-held point edit (no staged
    * batches, no rebase exclusions) — the small-commit fast path:
    * precedence, split bucketing, and the tx-log rows all resolve in
    * memory, saving the window shuffle + collect jobs per flush. The
    * cutover is structural, not size-based: staged batches can be
    * arbitrarily large (executors hold them), point edits are bounded by
    * what the driver already buffered.
    */
  def pointOnly: Boolean = stagedBatches.isEmpty && exclusions.isEmpty

  /** Point edits with last-write-wins precedence applied driver-side
    * (valid whenever [[pointOnly]] — buffer order IS chronology).
    * Memoized until the next mutation: a flush consults it several times,
    * and compaction's driver route holds every committed ref here.
    */
  def resolvedPointEdits: Seq[ChunkRef] = pointMemo match {
    case Some((s, v)) if s == mutations => v
    case _ =>
      val m = mutable.LinkedHashMap[(String, Seq[Int]), ChunkRef]()
      pointEdits.foreach { case (r, _) => m.put((r.node_id, r.coord), r) }
      val v = m.values.toVector
      pointMemo = Some((mutations, v))
      v
  }

  def setChunkRef(ref: ChunkRef): Unit = {
    pointEdits += ((ref, batchSeq)); touched()
  }

  /** Stage a distributed batch of chunk refs (full [[ChunkRef]] columns). */
  def stageBatch(df: DataFrame): Unit = {
    batchSeq += 1
    stagedBatches += df.withColumn("_batch", lit(batchSeq))
    touched()
  }

  // ---- driver-side resolution memo (r16 optimization) ----
  // A SMALL changeset resolves to in-memory rows once per mutation epoch:
  // conflict detection (per rebase round / merge) and the flush fast path
  // each need the same resolved rows, and without the memo every consumer
  // re-ran the precedence window as its own Spark job.
  private var mutations = 0L
  private def touched(): Unit = { mutations += 1; resolvedMemo = None }
  private var resolvedMemo: Option[(Long, Option[Seq[ChunkRef]])] = None
  private var pointMemo: Option[(Long, Seq[ChunkRef])] = None
  // exclusions.size rides the stamp as a safety net for any direct
  // mutation of the public buffer that bypassed addExclusion
  private def stamp: Long = mutations * 1000003L + exclusions.size

  /** Register a rebase exclusion (UseTheirs). Prefer this over mutating
    * [[exclusions]] directly — it invalidates the resolution memo.
    */
  def addExclusion(df: DataFrame): Unit = { exclusions += df; touched() }

  /** The resolved chunk edits as driver rows when they fit
    * [[Session.SmallCommitMaxRefs]] (None = too large — use
    * [[chunkChanges]]). Memoized until the next mutation, and the flush
    * seeds the same memo under the same bound; point-only changesets
    * answer from memory with no job.
    *
    * r17: resolves from the RAW (window-free) relation and applies the
    * last-write-wins precedence driver-side — a small changeset's
    * resolution no longer plans the precedence window's exchange+sort at
    * all (guide §2.4). The bound now applies to RAW rows (≥ resolved
    * rows), so a dup-heavy changeset that previously squeaked under the
    * bound post-dedup routes to the Spark path instead — a routing
    * change only, never a semantic one.
    */
  def resolvedDriver(spark: SparkSession): Option[Seq[ChunkRef]] = {
    if (pointOnly) return Some(resolvedPointEdits)
    resolvedMemo match {
      case Some((s, v)) if s == stamp => v
      case _ =>
        val v = ChangeSet.collectRawHead(chunkChangesRaw(spark),
          Session.SmallCommitMaxRefs)
        resolvedMemo = Some((stamp, v))
        v
    }
  }

  /** Memo peek: Some(result) iff a resolution is already cached for the
    * CURRENT changeset state (or it is point-only) — lets the flush probe
    * reuse a detection-phase collect without forcing one of its own.
    */
  def resolvedDriverCached: Option[Option[Seq[ChunkRef]]] =
    if (pointOnly) Some(Some(resolvedPointEdits))
    else resolvedMemo.collect { case (s, v) if s == stamp => v }

  /** Seed the memo from a caller that just resolved the changeset
    * through its own (persisted) frame.
    */
  def seedResolvedDriver(v: Option[Seq[ChunkRef]]): Unit =
    resolvedMemo = Some((stamp, v))

  /** Node ids touched by chunk edits (driver-known for point edits; staged
    * batches contribute their distinct node ids — computed lazily).
    */
  def chunkEditNodeIds(spark: SparkSession): Set[String] = {
    val local = pointEdits.map(_._1.node_id).toSet
    val staged =
      if (stagedBatches.isEmpty) Set.empty[String]
      else stagedBatches.map(_.select("node_id")).reduce(_ union _)
        .distinct().collect().map(_.getString(0)).toSet
    local ++ staged ++ rewrittenNodes
  }

  /** The RAW chunk-edit relation: every staged/point row with its `_batch`
    * precedence stamp, exclusions anti-joined, NO precedence window (r17).
    * Duplicate (node_id, coord) keys may appear — the winner is the row
    * first in [[AssetManager.PrecedenceCols]] (highest `_batch`, ties
    * broken by payload). Consumers either apply the window
    * ([[chunkChanges]]), dedup driver-side ([[resolvedDriver]]), or dedup
    * inside an exchange they already pay for (the fused flush write).
    *
    * Exclusions apply to the raw rows rather than after the window: an
    * exclusion removes the whole (node_id, coord) key either way, so the
    * two orders produce identical resolved relations.
    */
  def chunkChangesRaw(spark: SparkSession): DataFrame = {
    import spark.implicits._
    if (pointOnly)
      return spark.createDataset(resolvedPointEdits.toVector).toDF()
        .withColumn("_batch", lit(0.0))
    val point =
      if (pointEdits.isEmpty) None
      // a point edit outranks staged batches BEFORE it (seq + 0.5) and
      // loses to batches staged after; among point edits, buffer position
      // (last-write-wins within the same window)
      else Some(spark.createDataset(pointEdits.zipWithIndex.map {
        case ((r, seq), i) => (r, seq.toDouble + 0.5 + i * 1e-9)
      }.toSeq).toDF("ref", "_batch")
        .select(col("ref.*"), col("_batch")))
    val all = (stagedBatches.map(_.withColumn("_batch",
      col("_batch").cast("double"))) ++ point).reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[ChunkRef].toDF()
        .withColumn("_batch", lit(0.0)))
    exclusions.foldLeft(all)((df, ex) =>
      df.join(ex.select("node_id", "coord"), Seq("node_id", "coord"),
        "left_anti"))
  }

  /** All chunk edits with last-write-wins precedence applied and rebase
    * exclusions removed. Tombstones (`kind = delete`) are retained — the
    * flush merge needs them to suppress committed refs.
    */
  def chunkChanges(spark: SparkSession): DataFrame = {
    if (pointOnly) return chunkChangesRaw(spark).drop("_batch")
    val w = Window.partitionBy("node_id", "coord")
      .orderBy(AssetManager.PrecedenceCols: _*)
    chunkChangesRaw(spark)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_batch")
  }

  /** Union of two changesets (session merge, change_set.rs:95-160): `other`
    * wins on overlapping keys; node-level edits must not conflict.
    */
  def merge(other: ChangeSet): Unit = {
    val nodeOverlap =
      (newNodes.keySet ++ updatedNodes.keySet ++ deletedNodes.keySet) &
        (other.newNodes.keySet ++ other.updatedNodes.keySet ++
          other.deletedNodes.keySet)
    val conflicting = nodeOverlap.filter { p =>
      (newNodes.get(p), other.newNodes.get(p)) match {
        case (Some(a), Some(b)) => a != b
        case _ => true
      }
    }
    if (conflicting.nonEmpty)
      throw new ConflictException(
        s"session merge: conflicting node edits at ${conflicting.mkString(", ")}")
    other.newNodes.foreach { case (k, v) => newNodes.put(k, v) }
    other.updatedNodes.foreach { case (k, v) => updatedNodes.put(k, v) }
    other.deletedNodes.foreach { case (k, v) => deletedNodes.put(k, v) }
    moves ++= other.moves
    rewrittenNodes ++= other.rewrittenNodes
    // Preserve other's INTERNAL chronology: shift all of its seqs (point
    // edits and staged batches alike) past ours, instead of flattening its
    // point edits to the current seq — otherwise a batch that chronologically
    // preceded a point edit inside `other` would outrank it after merge.
    val offset = batchSeq
    other.pointEdits.foreach { case (r, seq) => pointEdits += ((r, seq + offset)) }
    other.stagedBatches.foreach { df =>
      stagedBatches += df.withColumn("_batch", col("_batch") + lit(offset))
    }
    batchSeq = offset + other.batchSeq
    exclusions ++= other.exclusions
    touched()
  }

  def clearChunks(nodeId: String): Unit = {
    pointEdits.filterInPlace(_._1.node_id != nodeId)
    // staged batches are filtered lazily
    if (stagedBatches.nonEmpty) {
      val filtered = stagedBatches.map(_.filter(col("node_id") =!= nodeId))
      stagedBatches.clear()
      stagedBatches ++= filtered
    }
    touched()
  }

  def discard(): Unit = {
    newNodes.clear(); updatedNodes.clear(); deletedNodes.clear()
    moves.clear(); rewrittenNodes.clear(); pointEdits.clear()
    stagedBatches.clear(); exclusions.clear()
    batchSeq = 0
    touched()
  }
}

object ChangeSet {
  /** Bounded collect of a RAW changes relation ([[ChangeSet
    * .chunkChangesRaw]] output, possibly persisted by the caller) with
    * precedence resolved driver-side by the flush kernel's own step
    * ([[graft.meta.AssetManager.precedence]] over the rows sorted into
    * its order), so ties resolve exactly as the fused write resolves
    * them: Some(resolved) when the raw rows fit `maxRows`, None when the
    * changeset is too large for the driver.
    */
  private[graft] def collectRawHead(raw: DataFrame,
      maxRows: Int): Option[Seq[ChunkRef]] = {
    val head = raw
      .limit(maxRows + 1)
      .select(struct(AssetManager.RefCols.map(col): _*).as("ref"),
        lit(0).as("split"), col("_batch").as("batch"))
      .as(org.apache.spark.sql.Encoders.product[AssetManager.FlushRow])
      .collect()
    if (head.length > maxRows) None
    else Some(AssetManager.precedence(
      head.sorted(AssetManager.FlushOrder).iterator).map(_.ref).toVector)
  }
}
