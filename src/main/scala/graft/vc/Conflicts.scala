package graft.vc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.meta.EditRow
import graft.repo.{ConflictException, Session}

/** A detected conflict between a session's changeset and a concurrent
  * commit's transaction log — the 10 classes of conflicts/mod.rs:22-52.
  */
final case class Conflict(kind: String, path: String, nodeId: String,
                          chunkCount: Long = 0L) {
  override def toString: String =
    s"$kind(path=$path, node=$nodeId${if (chunkCount > 0) s", chunks=$chunkCount" else ""})"
}

object Conflict {
  val NewNodeConflictsWithExistingNode = "new_node_conflicts_with_existing_node"
  val NewNodeInInvalidGroup = "new_node_in_invalid_group"
  val ZarrMetadataDoubleUpdate = "zarr_metadata_double_update"
  val ZarrMetadataUpdateOfDeletedNode = "zarr_metadata_update_of_deleted_node"
  val ChunkDoubleUpdate = "chunk_double_update"
  val ChunksUpdatedInDeletedArray = "chunks_updated_in_deleted_array"
  val ChunksUpdatedInUpdatedArray = "chunks_updated_in_updated_array"
  val DeleteOfUpdatedArray = "delete_of_updated_array"
  val DeleteOfUpdatedGroup = "delete_of_updated_group"
  val MoveConflict = "move_conflict"
}

/** Join-based conflict detection (detector.rs:21-305): our changeset versus
  * one concurrent transaction log. Node-level edit sets are small and
  * compared on the driver; chunk-level intersection is a semi join on
  * (node_id, coord) over the edit DataFrames.
  */
object ConflictDetector {
  def detect(session: Session, theirLog: DataFrame): Seq[Conflict] = {
    val cs = session.changeSet
    val spark = theirLog.sparkSession
    // distinct: an amended log may list a node edit twice
    val theirNodeEdits = theirLog.filter(col("edit") =!= EditRow.Chunk)
      .select("edit", "node_id", "path", "to_path").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    val out = nodeConflicts(session, theirNodeEdits)

    // chunk-level conflicts (semi join over the edit DataFrames)
    if (cs.hasChunkChanges) {
      val theirUpdated = theirNodeEdits.collect {
        case (e, id, p, _) if e == EditRow.UpdateArray ||
          e == EditRow.UpdateGroup => (id, p, e)
      }
      val theirDeleted = theirNodeEdits.collect {
        case (e, id, p, _) if e == EditRow.DeleteArray ||
          e == EditRow.DeleteGroup => (id, p)
      }
      val ours = cs.chunkChanges(spark).select("node_id", "coord")
      // ONE job answers both chunk questions: per touched node, how many
      // of OUR coords they also wrote (doubles), with the groupBy keys
      // doubling as the touched-node set. theirChunks dedupes first so a
      // coord they edited twice cannot inflate the count (the old
      // left_semi counted our rows once; the outer join must too).
      val theirChunks = theirLog.filter(col("edit") === EditRow.Chunk)
        .select("node_id", "coord").distinct()
        .withColumn("_hit", lit(1))
      val perNode = ours.join(theirChunks, Seq("node_id", "coord"),
          "left_outer")
        .groupBy("node_id").agg(count(col("_hit")).as("doubles"))
        .collect()
      out ++= perNode.filter(_.getLong(1) > 0)
        .map(r => Conflict(Conflict.ChunkDoubleUpdate,
          "", r.getString(0), r.getLong(1)))
      // chunks written into arrays they deleted / updated (point-only
      // changesets know their node set driver-side — no Spark job)
      val ourChunkNodes =
        if (cs.pointOnly) cs.resolvedPointEdits.map(_.node_id).toSet
        else perNode.map(_.getString(0)).toSet
      out ++= chunkNodeConflicts(ourChunkNodes, theirDeleted, theirUpdated)
    }
    out.toSeq
  }

  /** Fully driver-side detection: our changeset resolved to in-memory
    * rows (point-only, or a small staged changeset through
    * [[graft.repo.ChangeSet.resolvedDriver]]) and their tx log arrived
    * as in-memory rows (small commits write driver-readable logs) —
    * zero Spark jobs per rebase pass / merge, the difference between an
    * interactive retry loop and a job queue.
    */
  def detectLocal(session: Session, theirRows: Seq[EditRow],
                  ourRefs: Seq[graft.meta.ChunkRef]): Seq[Conflict] = {
    val cs = session.changeSet
    val theirNodeEdits = theirRows.filter(_.edit != EditRow.Chunk)
      .map(r => (r.edit, r.node_id, r.path, r.to_path)).distinct.toArray
    val out = nodeConflicts(session, theirNodeEdits)
    if (cs.hasChunkChanges) {
      val theirUpdated = theirNodeEdits.collect {
        case (e, id, p, _) if e == EditRow.UpdateArray ||
          e == EditRow.UpdateGroup => (id, p, e)
      }
      val theirDeleted = theirNodeEdits.collect {
        case (e, id, p, _) if e == EditRow.DeleteArray ||
          e == EditRow.DeleteGroup => (id, p)
      }
      val theirChunkKeys = theirRows.filter(_.edit == EditRow.Chunk)
        .map(r => (r.node_id, r.coord: Seq[Int])).toSet
      val doubles = ourRefs
        .filter(r => theirChunkKeys.contains((r.node_id, r.coord)))
        .groupBy(_.node_id)
      out ++= doubles.map { case (id, rs) =>
        Conflict(Conflict.ChunkDoubleUpdate, "", id, rs.size.toLong) }
      val ourChunkNodes = ourRefs.map(_.node_id).toSet
      out ++= chunkNodeConflicts(ourChunkNodes, theirDeleted, theirUpdated)
    }
    out.toSeq
  }

  private def chunkNodeConflicts(ourChunkNodes: Set[String],
      theirDeleted: Array[(String, String)],
      theirUpdated: Array[(String, String, String)])
      : Seq[Conflict] = {
    val out = scala.collection.mutable.ArrayBuffer[Conflict]()
    for ((id, p) <- theirDeleted if ourChunkNodes.contains(id))
      out += Conflict(Conflict.ChunksUpdatedInDeletedArray, p, id)
    for ((id, p, e) <- theirUpdated
         if e == EditRow.UpdateArray && ourChunkNodes.contains(id))
      out += Conflict(Conflict.ChunksUpdatedInUpdatedArray, p, id)
    out.toSeq
  }

  /** Node-level conflict classes (driver-held on both sides). */
  private def nodeConflicts(session: Session,
      theirNodeEdits: Array[(String, String, String, String)])
      : scala.collection.mutable.ArrayBuffer[Conflict] = {
    val cs = session.changeSet
    val theirNewPaths = theirNodeEdits.collect {
      case (e, _, p, _) if e == EditRow.NewArray || e == EditRow.NewGroup => p
    }.toSet
    val theirUpdated = theirNodeEdits.collect {
      case (e, id, p, _) if e == EditRow.UpdateArray ||
        e == EditRow.UpdateGroup => (id, p, e)
    }
    val theirDeleted = theirNodeEdits.collect {
      case (e, id, p, _) if e == EditRow.DeleteArray ||
        e == EditRow.DeleteGroup => (id, p)
    }
    val theirMoves = theirNodeEdits.collect {
      case (e, id, p, t) if e == EditRow.Move => (id, p, t)
    }
    val out = scala.collection.mutable.ArrayBuffer[Conflict]()

    // moves cannot be rebased in either direction (conflicts/mod.rs:49)
    if (cs.moves.nonEmpty)
      out ++= cs.moves.map { case (id, f, t) =>
        Conflict(Conflict.MoveConflict, s"$f -> $t", id) }
    if (theirMoves.nonEmpty)
      out ++= theirMoves.map { case (id, f, t) =>
        Conflict(Conflict.MoveConflict, s"$f -> $t (theirs)", id) }

    // new-node collisions
    for ((p, n) <- cs.newNodes if theirNewPaths.contains(p))
      out += Conflict(Conflict.NewNodeConflictsWithExistingNode, p, n.id)
    // new node under a node they created as an array
    val theirNewArrays = theirNodeEdits.collect {
      case (e, _, p, _) if e == EditRow.NewArray => p }.toSet
    for ((p, n) <- cs.newNodes
         if theirNewArrays.exists(a => graft.core.NodePath.isAncestorOf(a, p)))
      out += Conflict(Conflict.NewNodeInInvalidGroup, p, n.id)

    // metadata double updates / update-of-deleted
    val ourUpdatedPaths = cs.updatedNodes.keySet
    for ((_, p, _) <- theirUpdated if ourUpdatedPaths.contains(p))
      out += Conflict(Conflict.ZarrMetadataDoubleUpdate, p,
        cs.updatedNodes(p).id)
    for ((_, p) <- theirDeleted if ourUpdatedPaths.contains(p))
      out += Conflict(Conflict.ZarrMetadataUpdateOfDeletedNode, p,
        cs.updatedNodes(p).id)

    // delete-of-updated (we delete a node they updated)
    val theirUpdatedByPath = theirUpdated.map(t => t._2 -> t._3).toMap
    for ((p, t) <- cs.deletedNodes if theirUpdatedByPath.contains(p))
      out += Conflict(
        if (t == graft.meta.NodeSpec.Array) Conflict.DeleteOfUpdatedArray
        else Conflict.DeleteOfUpdatedGroup, p, "")

    out
  }
}

/** User-supplied conflict resolution (`ConflictSolver` trait,
  * conflicts/mod.rs:65-73). Implementations mutate the session's changeset
  * to resolve, or throw [[ConflictException]].
  */
trait ConflictSolver {
  def solve(session: Session, theirLog: DataFrame,
            conflicts: Seq[Conflict]): Unit
}

object VersionSelection extends Enumeration {
  val Fail, UseOurs, UseTheirs = Value
}

/** Policy-driven solver (basic_solver.rs:14-35). */
final case class BasicConflictSolver(
    onChunkConflict: VersionSelection.Value = VersionSelection.UseOurs,
    failOnDeleteOfUpdatedArray: Boolean = false,
    failOnDeleteOfUpdatedGroup: Boolean = false) extends ConflictSolver {

  override def solve(session: Session, theirLog: DataFrame,
                     conflicts: Seq[Conflict]): Unit = {
    val unresolvable = conflicts.filter { c =>
      c.kind match {
        case Conflict.ChunkDoubleUpdate =>
          onChunkConflict == VersionSelection.Fail
        case Conflict.DeleteOfUpdatedArray => failOnDeleteOfUpdatedArray
        case Conflict.DeleteOfUpdatedGroup => failOnDeleteOfUpdatedGroup
        case Conflict.ChunksUpdatedInDeletedArray |
             Conflict.ChunksUpdatedInUpdatedArray => false // our edits win
        case _ => true
      }
    }
    if (unresolvable.nonEmpty)
      throw new ConflictException(
        s"unresolvable conflicts: ${unresolvable.mkString("; ")}",
        unresolvable.map(_.toString))
    if (onChunkConflict == VersionSelection.UseTheirs &&
        conflicts.exists(_.kind == Conflict.ChunkDoubleUpdate)) {
      // drop OUR edits for coords they also wrote: anti-join exclusion
      // (addExclusion invalidates the driver-resolution memo)
      session.changeSet.addExclusion(
        theirLog.filter(col("edit") === EditRow.Chunk)
          .select("node_id", "coord"))
    }
    // UseOurs needs no action: the flush merge gives changeset precedence
  }
}

/** The rebase loop (session.rs:1925-2016): for every commit between our
  * base and the new branch tip (oldest first), detect conflicts against its
  * transaction log and let the solver patch the changeset; the caller then
  * re-flushes against the new tip.
  */
/** Before/after-rebase callbacks on the commit builder (session.rs:
  * 377-386): third-party validation plugs in around every rebase pass of
  * the optimistic commit loop. `beforeRebase` may throw to veto the
  * rebase (the commit then fails); `afterRebase` sees the session with
  * the solver's patches applied.
  */
final case class RebaseHooks(
    beforeRebase: (Session, String) => Unit = (_, _) => (),
    afterRebase: (Session, String) => Unit = (_, _) => ())

object RebaseHooks {
  val none: RebaseHooks = RebaseHooks()
}

object Rebase {
  def rebase(session: Session, info: graft.meta.RepoInfo, tip: String,
             solver: ConflictSolver): Unit = {
    val assets = session.repo.assets
    val history = info.ancestry(tip)
    // After a concurrent amend/resetBranch the session base is NOT an
    // ancestor of the new tip; takeWhile would then treat the whole history
    // as missed commits and fail confusingly downstream. Detect divergence
    // up front (session.rs:1925-2016 walks parent links and errors the
    // same way when the base is unreachable).
    if (!history.exists(_.id == session.base.id))
      throw new ConflictException(
        s"history diverged: session base ${session.base.id} is not an " +
          s"ancestor of $tip (concurrent amend or branch reset) — " +
          "re-open the session from the current tip")
    val missed = history.takeWhile(_.id != session.base.id)
      .map(_.id).reverse
    if (missed.isEmpty) return
    // prefetch every missed commit's tx-log presence + rows in one
    // concurrent wave (round-13 latency audit): the conflict-solve loop
    // below is ORDER-dependent (oldest missed commit first), the store
    // reads are not — a session rebasing over 50 landed commits at
    // 100 ms RTT otherwise pays ~150 sequential round trips
    val prefetched: Map[String, (Boolean, Option[Seq[graft.meta.EditRow]])] =
      graft.storage.Store.parallelIO(missed)(snapId => snapId -> {
        val exists = assets.txLogExists(snapId)
        // their rows do not depend on OUR changeset — prefetch whenever
        // the log is driver-readable (r16: small STAGED changesets take
        // the local detect too, via the resolvedDriver memo below)
        val rows =
          if (exists) assets.readTxLogRowsDriver(snapId)
          else None
        (exists, rows)
      }).toMap
    missed.foreach { snapId =>
      if (prefetched(snapId)._1) {
        // driver fast path: driver-resolvable changeset + small tx log ⇒
        // detect in memory, zero Spark jobs per rebase pass; the solver
        // gets a local DataFrame only if it actually has conflicts to
        // resolve. The resolution is re-evaluated HERE per missed
        // commit, not only once: a solver resolving an earlier missed
        // commit may mutate the changeset (UseTheirs adds exclusions),
        // which invalidates the memo and forces a fresh resolution.
        val ourRefs = session.changeSet.resolvedDriver(session.repo.spark)
        val localRows =
          if (ourRefs.isDefined) prefetched(snapId)._2 else None
        localRows match {
          case Some(rows) =>
            val conflicts =
              ConflictDetector.detectLocal(session, rows, ourRefs.get)
            if (conflicts.nonEmpty) {
              val spark = session.repo.spark
              import graft.meta.GraftEncoders.editRowEnc
              solver.solve(session,
                spark.createDataset(rows.toVector)(editRowEnc).toDF(),
                conflicts)
            }
          case None =>
            val theirLog = assets.readTxLog(snapId)
            val conflicts = ConflictDetector.detect(session, theirLog)
            if (conflicts.nonEmpty)
              solver.solve(session, theirLog, conflicts)
        }
      } else
        // expired ancestor: its tx log was pruned, rebase cannot see what
        // changed (pruned_ancestor_tx_logs, session.rs:1981-2009)
        throw new ConflictException(
          s"cannot rebase over $snapId: transaction log expired")
    }
  }
}
