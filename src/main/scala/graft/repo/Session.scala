package graft.repo

import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ArrayShape, Ids, NodePath}
import graft.meta._
import graft.meta.GraftEncoders._

/** A transaction context over one snapshot (session.rs).
  *
  * Read path (§3.1): changeset-first, then committed manifests with
  * extent-based pruning. Write path (§3.2): edits accumulate in the
  * [[ChangeSet]]; `flush` runs the changeset-over-snapshot merge as a Spark
  * job and writes immutable manifests + snapshot + tx log; `commit` then
  * advances the branch with a CAS on the pointer chain, rebasing on
  * conflict.
  */
final class Session private[repo] (
    val repo: Repository,
    val branch: Option[String], // None = read-only / detached
    private var baseSnapshot: Snapshot,
    val moveOnly: Boolean = false) {

  val changeSet = new ChangeSet
  /** Second-parent id stamped on the next commit's SnapshotInfo —
    * set by [[Repository.mergeBranch]] so the merge records the source
    * tip it folded in (git's merge parent). */
  private[graft] var mergeParent: Option[String] = None
  /** The pointer document this session was opened against (set by
    * [[Repository.writableSession]]; None on fork/rearrange/detached
    * paths). Seeds the commit loop's optimistic first CAS attempt and
    * answers the default-commit-metadata capture without a second
    * pointer load — the round-13 latency audit found session open
    * paying the full load TWICE (once in writableSession, once here).
    */
  private[repo] var openInfo: Option[RepoInfo] = None
  /** Default commit metadata captured at session open (reference
    * `set_default_commit_metadata`: later changes don't affect open
    * sessions). Merged UNDER commit properties — commit keys win.
    * Lazy: reads the open-time pointer when the session has one, and
    * only falls back to a fresh load on the open-info-less paths.
    */
  private lazy val sessionDefaultMeta: Map[String, String] =
    if (branch.isDefined)
      openInfo.getOrElse(repo.info()).defaultCommitMeta
    else Map.empty
  /** Staging datasets (uploaded-once chunk-ref Parquet under `staging/`)
    * backing staged batches — deleted on commit/discard, swept by GC if
    * the session dies.
    */
  private val stagingKeys = scala.collection.mutable.ArrayBuffer[String]()
  private[graft] def trackStaging(key: String): Unit = {
    stagingKeys += key
    putLease(key)
  }
  /** The one staging replay for chunk-upload jobs: `uploads` carries
    * `(coord, chunk_id, length)` rows from a side-effecting upload job.
    * It runs exactly once, into a Parquet under `staging/`; the returned
    * refs (`kind = ref`, `offset = 0`) read that Parquet back, so every
    * changeset action (flush, tx log, rebase retries) replays the
    * recorded rows instead of uploading again under fresh ids.
    */
  private[graft] def stageUploads(uploads: DataFrame): DataFrame = {
    val key = Layout.stagingPrefix(Ids.toBase32(Ids.newObjectId()))
    uploads.write.parquet(repo.store.uri(key))
    trackStaging(key)
    spark.read.parquet(repo.store.uri(key))
      .withColumn("kind", lit(ChunkRef.KindRef))
      .withColumn("offset", lit(0L))
  }
  private def putLease(key: String): Unit =
    try repo.store.putBytes(key.stripSuffix("/") + "/.lease",
      s"""{"held_at":"${java.time.Instant.now()}"}""".getBytes("UTF-8"))
    catch { case _: Exception => () } // lease is best-effort
  /** Refresh the lease markers on this session's staging prefixes so a GC
    * sweep ([[graft.ops.Maintenance.garbageCollect]]) won't reclaim them:
    * the sweep skips any staging token with an object newer than the age
    * cutoff. Long-lived sessions that stage data and then idle past the
    * GC retention window should call this periodically.
    */
  def renewStagingLeases(): Unit = stagingKeys.foreach(putLease)
  private def cleanupStaging(): Unit = {
    stagingKeys.foreach(k =>
      try repo.store.deletePrefix(k)
      catch { case _: Exception => () }) // GC sweeps stragglers
    stagingKeys.clear()
  }
  private def spark: SparkSession = repo.spark
  private def assets: AssetManager = repo.assets
  private def cfg: GraftConfig = repo.config
  def base: Snapshot = baseSnapshot
  def readOnly: Boolean = branch.isEmpty

  private def requireWritable(): Unit = {
    if (readOnly) throw new GraftException("session is read-only", GraftError.ReadOnly)
  }

  /** rearrange sessions (repository.rs:1992) accept ONLY move edits —
    * moves cannot be rebased, so isolating them keeps ordinary write
    * sessions rebases-clean.
    */
  private def requireNotMoveOnly(): Unit =
    if (moveOnly) throw new GraftException(
      "rearrange session: only move_node is allowed")

  // ------------------------------------------------------------------
  // hierarchy view (base ⊕ changeset)
  // ------------------------------------------------------------------

  /** Effective node list: base nodes minus deletions (incl. descendants),
    * with updates, moves, and new nodes applied.
    */
  def nodes: Seq[NodeSpec] = {
    val moved = baseSnapshot.nodes.map { n =>
      changeSet.moves.foldLeft(n) { case (node, (_, from, to)) =>
        if (node.path == from) node.copy(path = to)
        else if (NodePath.isAncestorOf(from, node.path))
          node.copy(path = to + node.path.stripPrefix(from))
        else node
      }
    }
    val afterDelete = moved.filterNot { n =>
      changeSet.deletedNodes.keys.exists(d =>
        d == n.path || NodePath.isAncestorOf(d, n.path))
    }
    val afterUpdate = afterDelete.map(n =>
      changeSet.updatedNodes.getOrElse(n.path, n))
    afterUpdate ++ changeSet.newNodes.values
  }

  def node(path: String): Option[NodeSpec] =
    nodes.find(_.path == NodePath.normalize(path))

  private def arrayNode(path: String): NodeSpec =
    node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path", GraftError.NodeNotFound))

  /** `list_nodes(prefix)` (session.rs:1415). */
  def listNodes(prefix: String = "/"): Seq[NodeSpec] = {
    val p = NodePath.normalize(prefix)
    nodes.filter(n => n.path == p || NodePath.isAncestorOf(p, n.path))
      .sortBy(_.path)
  }

  /** The hierarchy as a DataFrame (`nodes` relation of SURVEY §1.1). */
  def nodesDf: DataFrame =
    spark.createDataset(nodes)(nodeSpecEnc).toDF()

  // ------------------------------------------------------------------
  // node edits
  // ------------------------------------------------------------------

  def addGroup(path: String, userData: String = ""): NodeSpec = {
    requireWritable()
    requireNotMoveOnly()
    val p = NodePath.normalize(path)
    if (node(p).isDefined) throw new GraftException(s"node exists at $p")
    val spec = NodeSpec(Ids.toBase32(Ids.newNodeId()), p, NodeSpec.Group,
      userData = userData)
    changeSet.newNodes.put(p, spec)
    spec
  }

  def addArray(path: String, shape: Seq[Long], chunkShape: Seq[Long],
               dimNames: Seq[String] = Nil, userData: String = ""): NodeSpec = {
    requireWritable()
    requireNotMoveOnly()
    val p = NodePath.normalize(path)
    if (node(p).isDefined) throw new GraftException(s"node exists at $p")
    node(NodePath.parent(p).getOrElse("/")) match {
      case Some(parent) if parent.isArray =>
        throw new GraftException(s"cannot create node under array ${parent.path}")
      case _ => ()
    }
    ArrayShape.regular(shape, chunkShape) // validates
    val spec = NodeSpec(Ids.toBase32(Ids.newNodeId()), p, NodeSpec.Array,
      shape, chunkShape, dimNames, userData)
    changeSet.newNodes.put(p, spec)
    spec
  }

  /** Add an array with a rectilinear chunk grid: explicit chunk lengths
    * per dimension (store.rs:1158-1241). Lengths must tile the shape.
    */
  def addArrayRectilinear(path: String, shape: Seq[Long],
                          chunkSizesPerDim: Seq[Seq[Long]],
                          dimNames: Seq[String] = Nil,
                          userData: String = ""): NodeSpec = {
    requireWritable()
    requireNotMoveOnly()
    val p = NodePath.normalize(path)
    if (node(p).isDefined) throw new GraftException(s"node exists at $p")
    require(shape.size == chunkSizesPerDim.size, "rank mismatch")
    shape.zip(chunkSizesPerDim).foreach { case (len, sizes) =>
      require(sizes.nonEmpty && sizes.forall(_ > 0) && sizes.sum == len,
        s"chunk sizes ${sizes.mkString(",")} do not tile dim of length $len")
    }
    val spec = NodeSpec(Ids.toBase32(Ids.newNodeId()), p, NodeSpec.Array,
      shape, Nil, dimNames, userData, chunkSizesPerDim)
    changeSet.newNodes.put(p, spec)
    spec
  }

  /** Update array shape/metadata in place (update_array). Chunks that fall
    * out of bounds after a shrink are dropped at flush (the reference
    * tombstones them, change_set.rs:62-66).
    */
  def updateArray(path: String, shape: Seq[Long], chunkShape: Seq[Long],
                  dimNames: Seq[String] = Nil,
                  userData: String = null): NodeSpec = {
    requireWritable()
    requireNotMoveOnly()
    val cur = arrayNode(path)
    if (cur.isRectilinear) throw new GraftException(
      s"update_array on rectilinear grids is not supported (${cur.path})")
    val spec = cur.copy(shape = shape, chunkShape = chunkShape,
      dimNames = if (dimNames.isEmpty) cur.dimNames else dimNames,
      userData = Option(userData).getOrElse(cur.userData))
    if (changeSet.newNodes.contains(cur.path))
      changeSet.newNodes.put(cur.path, spec)
    else changeSet.updatedNodes.put(cur.path, spec)
    spec
  }

  /** Update a rectilinear array's shape + chunk-length tables in place —
    * the rect analog of [[updateArray]] (grows for append_dim; shrinks
    * drop out-of-bounds chunks at flush like the regular path).
    */
  def updateArrayRectilinear(path: String, shape: Seq[Long],
                             chunkSizesPerDim: Seq[Seq[Long]],
                             dimNames: Seq[String] = Nil,
                             userData: String = null): NodeSpec = {
    requireWritable()
    requireNotMoveOnly()
    val cur = arrayNode(path)
    if (!cur.isRectilinear) throw new GraftException(
      s"update_array_rectilinear on a regular grid (${cur.path}) — " +
        "use update_array")
    require(shape.size == chunkSizesPerDim.size, "rank mismatch")
    shape.zip(chunkSizesPerDim).foreach { case (len, sizes) =>
      require(sizes.nonEmpty && sizes.forall(_ > 0) && sizes.sum == len,
        s"chunk sizes ${sizes.mkString(",")} do not tile dim of length $len")
    }
    val spec = cur.copy(shape = shape, chunkSizesPerDim = chunkSizesPerDim,
      dimNames = if (dimNames.isEmpty) cur.dimNames else dimNames,
      userData = Option(userData).getOrElse(cur.userData))
    if (changeSet.newNodes.contains(cur.path))
      changeSet.newNodes.put(cur.path, spec)
    else changeSet.updatedNodes.put(cur.path, spec)
    spec
  }

  def updateGroup(path: String, userData: String): NodeSpec = {
    requireWritable()
    requireNotMoveOnly()
    val cur = node(path).filter(!_.isArray)
      .getOrElse(throw new GraftException(s"no group at $path", GraftError.NodeNotFound))
    val spec = cur.copy(userData = userData)
    if (changeSet.newNodes.contains(cur.path))
      changeSet.newNodes.put(cur.path, spec)
    else changeSet.updatedNodes.put(cur.path, spec)
    spec
  }

  /** Delete a node (and, for groups, all descendants). */
  def deleteNode(path: String): Unit = {
    requireWritable()
    requireNotMoveOnly()
    val n = node(path).getOrElse(
      throw new GraftException(s"no node at $path", GraftError.NodeNotFound))
    val doomed = nodes.filter(x =>
      x.path == n.path || NodePath.isAncestorOf(n.path, x.path))
    doomed.foreach { d =>
      if (changeSet.newNodes.remove(d.path).isEmpty)
        changeSet.deletedNodes.put(d.path, d.nodeType)
      changeSet.updatedNodes.remove(d.path)
      changeSet.clearChunks(d.id)
    }
  }

  /** `move_node(from, to)` (session.rs:857-934). Rearranges the hierarchy;
    * cannot be rebased (conflicts/mod.rs:49) so commits with moves fail on
    * concurrent writers rather than attempting a merge.
    */
  def moveNode(from: String, to: String): Unit = {
    requireWritable()
    repo.requireFlag(repo.Flags.MoveNode, "move_node")
    val f = NodePath.normalize(from); val t = NodePath.normalize(to)
    val n = node(f).getOrElse(throw new GraftException(s"no node at $f", GraftError.NodeNotFound))
    // moving a group inside its own subtree would orphan the whole branch
    // (reference #2102, session.rs:889): reject up front
    if (t == f || t.startsWith(f + "/"))
      throw new GraftException(s"cannot move $f inside itself ($t)", GraftError.Unsupported)
    if (node(t).isDefined) throw new GraftException(s"node exists at $t")
    node(NodePath.parent(t).getOrElse("/")) match {
      case Some(p) if p.isArray =>
        throw new GraftException(s"cannot move under array ${p.path}")
      case None if NodePath.parent(t).exists(_ != "/") =>
        throw new GraftException(s"destination parent missing for $t")
      case _ => ()
    }
    if (changeSet.newNodes.contains(f)) {
      val spec = changeSet.newNodes.remove(f).get
      changeSet.newNodes.put(t, spec.copy(path = t))
    } else changeSet.moves += ((n.id, f, t))
  }

  // ------------------------------------------------------------------
  // chunk writes
  // ------------------------------------------------------------------

  def setChunkRef(path: String, coord: Seq[Int], ref: ChunkRef): Unit = {
    requireWritable()
    requireNotMoveOnly()
    val n = arrayNode(path)
    if (!n.validCoord(coord))
      throw new GraftException(
        s"coord ${coord.mkString(",")} out of bounds for ${n.path}", GraftError.Bounds)
    // authorization at set-time also for raw refs (session.rs:631-655)
    if (ref.kind == ChunkRef.KindVirtual)
      repo.virtualResolver.validateLocation(ref.location)
    changeSet.setChunkRef(ref.copy(node_id = n.id))
  }

  /** Write chunk bytes: inline when ≤ threshold (config.rs:573), else
    * upload as a native chunk object (session.rs:1333).
    */
  def writeChunk(path: String, coord: Seq[Int], bytes: Array[Byte]): Unit = {
    val ref =
      if (bytes.length <= cfg.inlineThresholdBytes)
        ChunkRef.inlineRef("", coord, bytes)
      else {
        val id = assets.writeChunk(bytes)
        ChunkRef.nativeRef("", coord, id, 0L, bytes.length.toLong)
      }
    setChunkRef(path, coord, ref)
  }

  def setVirtualRef(path: String, coord: Seq[Int], location: String,
                    offset: Long, length: Long, etag: String = null,
                    lastModified: Int = 0): Unit = {
    // authorization check at set-time (session.rs:631-655)
    repo.virtualResolver.validateLocation(location)
    setChunkRef(path, coord,
      ChunkRef.virtualRef("", coord, location, offset, length, etag,
        lastModified))
  }

  def deleteChunk(path: String, coord: Seq[Int]): Unit =
    setChunkRef(path, coord, ChunkRef.tombstone("", coord))

  // ------------------------------------------------------------------
  // py4j-friendly exact-arity forms (docs/pyspark.md): the PySpark
  // gateway auto-converts Python lists to java.util.List and bytes to
  // byte[], but can neither supply Scala default arguments nor build
  // Scala Seqs — these let Python drive the session write/commit/error
  // paths directly (the pyspark smoke's error-taxonomy legs use them).
  // ------------------------------------------------------------------
  private def coordOf(c: java.util.List[Integer]): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    c.asScala.map(_.intValue()).toSeq
  }

  def writeChunkJ(path: String, coord: java.util.List[Integer],
                  bytes: Array[Byte]): Unit =
    writeChunk(path, coordOf(coord), bytes)

  def addArrayJ(path: String, shape: java.util.List[java.lang.Number],
                chunkShape: java.util.List[java.lang.Number]): Unit = {
    import scala.jdk.CollectionConverters._
    addArray(path, shape.asScala.toSeq.map(_.longValue),
      chunkShape.asScala.toSeq.map(_.longValue))
  }

  def setVirtualRefJ(path: String, coord: java.util.List[Integer],
                     location: String, offset: Long, length: Long): Unit =
    setVirtualRef(path, coordOf(coord), location, offset, length)

  def commitJ(message: String): String = commit(message)

  /** Batched cross-array point lookups for Python callers (VERDICT r14
    * item 7): one concurrent warm wave for the whole request set — the
    * ERA5 time-slice read pattern — instead of one py4j round trip plus
    * one cold lookup per coordinate. `paths` and `coords` align by
    * index; misses come back as null (py4j maps them to None).
    */
  def getChunkRefsBatchJ(paths: java.util.List[String],
      coords: java.util.List[java.util.List[Integer]])
      : java.util.List[ChunkRef] = {
    import scala.jdk.CollectionConverters._
    // zip would silently drop the longer list's tail and misalign the
    // by-index contract — refuse instead
    require(paths.size == coords.size,
      s"paths (${paths.size}) and coords (${coords.size}) must align")
    val reqs = paths.asScala.toSeq.zip(
      coords.asScala.toSeq.map(coordOf))
    getChunkRefsBatch(reqs).map(_.orNull).asJava
  }

  /** [[getChunksBatch]] for Python callers (misses are null). */
  def getChunksBatchJ(paths: java.util.List[String],
      coords: java.util.List[java.util.List[Integer]])
      : java.util.List[Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    require(paths.size == coords.size,
      s"paths (${paths.size}) and coords (${coords.size}) must align")
    val reqs = paths.asScala.toSeq.zip(
      coords.asScala.toSeq.map(coordOf))
    getChunksBatch(reqs).map(_.orNull).asJava
  }

  private def boundsOf(lo: java.util.List[java.lang.Number],
      hi: java.util.List[java.lang.Number]): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    require(lo.size == hi.size,
      s"lo (${lo.size}) and hi (${hi.size}) must align per dimension")
    lo.asScala.toSeq.map(_.longValue)
      .zip(hi.asScala.toSeq.map(_.longValue))
  }

  /** Values-plane region statistics for Python callers (VERDICT r15
    * item 7): the [[graft.tensor.TensorPlane.sliceStats]] shape —
    * aggregation pushed into the chunk kernel, extents-pruned — as ONE
    * py4j call. `lo`/`hi` are per-DIMENSION bound vectors (inclusive
    * lo, exclusive hi): region `[lo(d), hi(d))` on each axis. Returns
    * the DataFrame (wrap with `pyspark.sql.DataFrame(jdf, spark)`), so
    * Python gets region reads without per-cell round trips. Small regions
    * take the same zero-job driver route as the Scala call.
    */
  def sliceStatsJ(path: String, dtype: String,
      lo: java.util.List[java.lang.Number],
      hi: java.util.List[java.lang.Number],
      compression: String): org.apache.spark.sql.DataFrame =
    graft.tensor.TensorPlane.sliceStats(this, path, dtype,
      boundsOf(lo, hi), compression)

  /** Values-plane region CELLS for Python callers: `(i0..iN-1, value)`
    * rows of the bounded slice as one DataFrame — the batched read
    * analog of [[sliceStatsJ]] when the caller needs the values, not an
    * aggregate.
    */
  def sliceValuesJ(path: String, dtype: String,
      lo: java.util.List[java.lang.Number],
      hi: java.util.List[java.lang.Number],
      compression: String): org.apache.spark.sql.DataFrame =
    graft.tensor.TensorPlane.valuesRegion(this, path, dtype,
      boundsOf(lo, hi), compression)

  /** Commit that REFUSES to auto-resolve chunk double-writes — the
    * reference's Python `session.commit()` semantics (a concurrent
    * write to the same cell surfaces as a ConflictError unless the
    * caller opts into a solver, session.rs:3194 + basic_solver.rs).
    */
  def commitFailOnConflictJ(message: String): String =
    commit(message, solver = graft.vc.BasicConflictSolver(
      onChunkConflict = graft.vc.VersionSelection.Fail))

  /** Bulk ingest of chunk refs from a DataFrame with at least a `coord`
    * ARRAY<INT> column plus the payload columns of [[ChunkRef]] that apply
    * (`kind`, `inline`, `chunk_id`, `location`, `offset`, `length`,
    * `etag`, `last_modified`). This is the 100 TB write path: refs never
    * pass through the driver (reference analog: `store_dask` / fork-merge,
    * dask.py:61-150 — unnecessary here because executors stage refs and
    * the driver only commits metadata).
    */
  def stageChunkRefs(path: String, df: DataFrame): Unit = {
    requireWritable()
    requireNotMoveOnly()
    val n = arrayNode(path)
    stageNormalized(normalizeRefCols(df).withColumn("node_id", lit(n.id)))
  }

  /** Bulk ingest across MANY arrays in one distributed job: `df` carries a
    * `path` STRING column naming the target array per row (every distinct
    * path must appear in `paths`). Node ids resolve via one broadcast map
    * join — the whole batch stages as a single plan instead of a
    * per-array driver loop (the scale path for a merge touching thousands
    * of arrays).
    */
  def stageChunkRefsBatch(paths: Seq[String], df: DataFrame): Unit = {
    requireWritable()
    requireNotMoveOnly()
    if (paths.isEmpty) return
    val spark = df.sparkSession
    import spark.implicits._
    val idByPath = broadcast(
      paths.distinct.map(p => (p, arrayNode(p).id)).toDF("path", "node_id"))
    // LEFT join + raise_error on the unmatched side: a row whose path is
    // missing from `paths` must fail the job loudly (at evaluation), not
    // vanish from the commit — silent row loss is the one unacceptable
    // outcome of a bulk-ingest API
    val resolved = normalizeRefCols(df)
      .join(idByPath, Seq("path"), "left_outer")
      .withColumn("node_id", coalesce(col("node_id"),
        raise_error(concat(
          lit("stageChunkRefsBatch: row path not in paths list: "),
          col("path"))).cast("string")))
      .drop("path")
    stageNormalized(resolved)
  }

  /** Default-fill the optional [[ChunkRef]] payload columns: missing
    * columns get defaults; PRESENT-but-null values coalesce to them too
    * (a DSv2 write reconciles narrow inputs against the full table schema
    * by null-padding the absent columns).
    */
  private def normalizeRefCols(df: DataFrame): DataFrame =
    Seq(
      ("kind", "string", lit(ChunkRef.KindRef)),
      ("inline", "binary", lit(null).cast("binary")),
      ("chunk_id", "string", lit(null).cast("string")),
      ("location", "string", lit(null).cast("string")),
      ("offset", "bigint", lit(0L)), ("length", "bigint", lit(0L)),
      ("etag", "string", lit(null).cast("string")),
      ("last_modified", "int", lit(0)))
      .foldLeft(df) { case (d, (c, t, default)) =>
        if (d.columns.contains(c))
          d.withColumn(c, coalesce(col(c).cast(t), default))
        else d.withColumn(c, default)
      }

  private def stageNormalized(withNodeId: DataFrame): Unit = {
    val full = withNodeId
      .withColumn("c0", coalesce(try_element_at(col("coord"), lit(1)), lit(-1)))
      .withColumn("c1", coalesce(try_element_at(col("coord"), lit(2)), lit(-1)))
      .withColumn("c2", coalesce(try_element_at(col("coord"), lit(3)), lit(-1)))
      .withColumn("c3", coalesce(try_element_at(col("coord"), lit(4)), lit(-1)))
      .select("node_id", "coord", "c0", "c1", "c2", "c3", "kind", "inline",
        "chunk_id", "location", "offset", "length", "etag", "last_modified")
    changeSet.stageBatch(full)
  }

  /** Relabel chunk coordinates via a coordinate-transform expression
    * (`reindex_array`, session.rs:935-1071). `f` maps the `coord`
    * ARRAY<INT> column; out-of-bounds results are discarded (the bounds
    * filter at flush). The whole coordinate table is rewritten.
    */
  def reindexArray(path: String, f: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column): Unit = {
    requireWritable()
    requireNotMoveOnly()
    val n = arrayNode(path)
    // regular-grid-only guard (session.rs:940-953; rectilinear guard,
    // design-docs/018-shift-array-rectilinear-guard.md)
    if (n.isRectilinear) throw new GraftException(
      s"reindex/shift require a regular chunk grid (${n.path} is rectilinear)")
    val transformed = committedRefsFor(n.id)
      .withColumn("coord", f(col("coord")))
      .withColumn("c0", coalesce(try_element_at(col("coord"), lit(1)), lit(-1)))
      .withColumn("c1", coalesce(try_element_at(col("coord"), lit(2)), lit(-1)))
      .withColumn("c2", coalesce(try_element_at(col("coord"), lit(3)), lit(-1)))
      .withColumn("c3", coalesce(try_element_at(col("coord"), lit(4)), lit(-1)))
      .drop("split")
    changeSet.rewrittenNodes += n.id
    changeSet.stageBatch(transformed)
  }

  /** `shift_array(offset)`: add a constant offset per axis. */
  def shiftArray(path: String, offsets: Seq[Int]): Unit =
    reindexArray(path, coord =>
      zip_with(coord, lit(offsets.toArray), (c, o) => c + o))

  /** Swap an array's chunk grid AND its whole ref relation in one
    * changeset action — the commit side of a rechunk
    * ([[graft.tensor.TensorPlane.rechunk]] computes `refs` as a
    * distributed block-copy job first). Rewritten-node semantics, like
    * [[reindexArray]]: committed refs for the node are dropped, earlier
    * in-session edits for it are discarded, and `refs` (already on the
    * NEW grid) becomes the node's entire coordinate table. `refs` must be
    * re-evaluable without side effects (a staging-Parquet read, not a
    * live job) — flush/rebase replay it.
    */
  def rechunkArray(path: String, newChunkShape: Seq[Long],
                   refs: DataFrame): Unit = {
    requireWritable()
    requireNotMoveOnly()
    val n = arrayNode(path)
    graft.core.ArrayShape.regular(n.shape, newChunkShape) // validates
    // the target grid is always REGULAR; a rectilinear source converts
    // (the one-way door out of the rectilinear feature subset), so the
    // spec swap clears chunkSizesPerDim rather than going through
    // updateArray (which refuses rectilinear nodes)
    val spec = n.copy(chunkShape = newChunkShape, chunkSizesPerDim = Nil)
    if (changeSet.newNodes.contains(n.path))
      changeSet.newNodes.put(n.path, spec)
    else changeSet.updatedNodes.put(n.path, spec)
    changeSet.rewrittenNodes += n.id
    changeSet.clearChunks(n.id)
    stageChunkRefs(path, refs)
  }

  // ------------------------------------------------------------------
  // chunk reads (changeset-first — §3.1)
  // ------------------------------------------------------------------

  private def committedRefsFor(nodeId: String): DataFrame =
    assets.committedRefs(baseSnapshot, Seq(nodeId))

  /** Distinct location URLs of every virtual chunk visible in this
    * session, across ALL arrays (reference
    * `all_virtual_chunk_locations`, session.rs) — the input to
    * credential planning ("which containers must I authorize?") and to
    * fsck's coverage check — as a lazy single-column (`location`)
    * DataFrame. One distributed distinct over the ref relations; at
    * 100 TB a virtual-heavy repo has MILLIONS of distinct source files,
    * so consumers (fsck's probe, coverage joins, exports) should stay
    * on this relation rather than collecting.
    */
  def virtualChunkLocationsDF(): DataFrame = {
    val arrays = nodes.filter(_.isArray)
    if (arrays.isEmpty) assets.emptyRefs().select("location").limit(0)
    else refsBatch(arrays.map(_.path))
      .filter(col("kind") === ChunkRef.KindVirtual)
      .select("location").distinct()
  }

  /** [[virtualChunkLocationsDF]] collected to a sorted Seq — the
    * reference-parity convenience. SIZE CAVEAT: this materializes every
    * distinct location on the driver; on virtual-heavy repos prefer the
    * DataFrame variant.
    */
  def allVirtualChunkLocations(): Seq[String] =
    virtualChunkLocationsDF()
      .collect().map(_.getString(0)).toSeq.sorted

  /** The effective chunk-ref relation for an array: committed refs with
    * changeset precedence applied (left-anti + union — the same merge the
    * flush runs, session.rs:2587-2635) and tombstones dropped.
    */
  def refs(path: String): DataFrame = {
    val n = arrayNode(path)
    val committed =
      if (changeSet.rewrittenNodes.contains(n.id)) assets.emptyRefs().drop("split")
      else committedRefsFor(n.id).drop("split")
    overlayChanges(n, committed)
  }

  /** [[refs]] for MANY arrays as ONE relation with a `path` column: the
    * committed reads group per manifest FILE (`Assets.committedRefs`),
    * so a hundred arrays written by one commit plan a handful of scan
    * legs — not one leg per array (a per-path `refs(p)` union builds a
    * plan Catalyst takes tens of seconds to analyze at 100 arrays; this
    * is the batched read under [[graft.repo.Repository.mergeBranch]]).
    */
  def refsBatch(paths: Seq[String]): DataFrame = {
    val ns = paths.distinct.map(arrayNode)
    val ids = ns.map(_.id)
    val keep = ids.filterNot(changeSet.rewrittenNodes.contains)
    val committed = assets.committedRefs(baseSnapshot, keep).drop("split")
    val overlaid = overlayChanges(ids, committed)
    val sp = overlaid.sparkSession
    import sp.implicits._
    overlaid.join(
      broadcast(ns.map(n => (n.id, n.path)).toDF("node_id", "path")),
      Seq("node_id"))
  }

  /** [[refsBatch]]'s rows read on the driver with zero Spark jobs, as
    * (path, ref) pairs: each array's committed shards
    * ([[AssetManager.refsDriverBounded]]) under the session's point
    * edits, tombstones dropped — the same precedence as
    * [[overlayChanges]]. None when the Spark route must serve: the
    * session holds staged batches or rebase exclusions (resolving them
    * costs a job), or the arrays' committed refs sum past the driver
    * bound.
    */
  private[graft] def refsBatchDriver(
      paths: Seq[String]): Option[Seq[(String, ChunkRef)]] =
    if (!changeSet.pointOnly) None
    else {
      val ns = paths.distinct.map(arrayNode)
      val parts = for {
        n <- ns if !changeSet.rewrittenNodes.contains(n.id)
        m <- baseSnapshot.manifests.getOrElse(n.id, Nil)
      } yield (m, n.id)
      assets.refsDriverBounded(parts).map { shards =>
        val committed = parts.map(_._2).zip(shards)
          .groupMapReduce(_._1)(_._2)(_ ++ _)
        val edits = changeSet.resolvedPointEdits.groupBy(_.node_id)
        ns.flatMap { n =>
          val own = edits.getOrElse(n.id, Nil)
          val edited = own.iterator.map(r => r.coord: Seq[Int]).toSet
          (committed.getOrElse(n.id, Nil).filterNot(r => edited(r.coord)) ++
            own).filter(_.kind != ChunkRef.KindDelete).map(n.path -> _)
        }
      }
    }

  /** [[refsBatch]] restricted per path to a chunk-coordinate bounding box
    * (inclusive per dim; paths absent from `boundsOf` are unpruned):
    * manifest splits whose extents cannot intersect a path's box are
    * NEVER read — the batch form of [[refsBounded]]'s plan-time pruning
    * (r17, guide §6). Rows inside surviving splits are NOT re-filtered —
    * the caller must consume through an exact coord join (the merge
    * staging's semi/anti pair), so pruning can only shrink the scan,
    * never the result. Rank-mismatched extents can't prove disjointness
    * and are kept.
    */
  private[graft] def refsBatchBounded(paths: Seq[String],
      boundsOf: Map[String, Seq[(Int, Int)]]): DataFrame = {
    val ns = paths.distinct.map(arrayNode)
    val keep = ns.filterNot(n => changeSet.rewrittenNodes.contains(n.id))
    val parts = for {
      n <- keep
      ref <- baseSnapshot.manifests.getOrElse(n.id, Nil)
      if boundsOf.get(n.path).forall(b =>
        ref.emin.size != b.size || ref.overlaps(b.map(_._1), b.map(_._2)))
    } yield (ref.manifestId, n.id, ref.split)
    val committed = assets.committedRefsParts(parts).drop("split")
    val overlaid = overlayChanges(ns.map(_.id), committed)
    val sp = overlaid.sparkSession
    import sp.implicits._
    overlaid.join(
      broadcast(ns.map(n => (n.id, n.path)).toDF("node_id", "path")),
      Seq("node_id"))
  }

  /** [[refs]] restricted to a chunk-coordinate bounding box (inclusive per
    * dim): manifest splits whose extents don't overlap are '''never
    * read''' — the all-dim plan-time pruning of `ManifestExtents`
    * (manifest.rs:66-69) — and surviving rows are re-filtered, so pruning
    * is optimization, never correctness. The scan side of region reads.
    */
  def refsBounded(path: String, bounds: Seq[(Int, Int)]): DataFrame = {
    val n = arrayNode(path)
    val committed =
      if (changeSet.rewrittenNodes.contains(n.id)) assets.emptyRefs().drop("split")
      else {
        val lo = bounds.map(_._1); val hi = bounds.map(_._2)
        // Rank-mismatched extents can't prove disjointness, so keep them
        // (the coord re-filter below does the work) — pruning must never
        // decide correctness.
        val keep = baseSnapshot.manifests.getOrElse(n.id, Nil)
          .filter(r => r.emin.size != bounds.size || r.overlaps(lo, hi))
        assets.refsOfSplits(n.id, keep)
      }
    val coordFilter = bounds.zipWithIndex.map { case ((lo, hi), i) =>
      try_element_at(col("coord"), lit(i + 1)).between(lo, hi)
    }.reduce(_ && _)
    overlayChanges(n, committed).filter(coordFilter)
  }

  private def overlayChanges(n: NodeSpec, committed: DataFrame): DataFrame =
    overlayChanges(Seq(n.id), committed)

  /** Changeset precedence over committed rows (the caller's `committed`
    * is already restricted to `ids` — `Assets.committedRefs` /
    * `refsOfSplits` filter by node id): staged edits win via anti-join
    * on (node_id, coord), then tombstones drop. The ONE read-path merge
    * shared by [[refs]], [[refsBounded]] and [[refsBatch]] — keep it
    * single-sourced so the batched and per-array reads cannot diverge.
    */
  private def overlayChanges(ids: Seq[String], committed: DataFrame): DataFrame =
    if (!changeSet.hasChunkChanges) committed
    else {
      val changes = changeSet.chunkChanges(spark)
        .filter(col("node_id").isin(ids: _*))
      committed.join(changes.select("node_id", "coord"),
          Seq("node_id", "coord"), "left_anti")
        .unionByName(changes)
        .filter(col("kind") =!= ChunkRef.KindDelete)
    }

  /** All refs across all arrays (`all_chunks`, session.rs:1429) — one
    * batched relation, not a per-array union (see [[refsBatch]]).
    */
  def allRefs(): DataFrame = {
    val arrays = nodes.filter(_.isArray)
    if (arrays.isEmpty) assets.emptyRefs().drop("split")
    else refsBatch(arrays.map(_.path)).drop("path")
  }

  /** `chunk_coordinates(path)` (session.rs:1450-1487). */
  def chunkCoordinates(path: String): DataFrame = refs(path).select("coord")

  /** Point lookup of one chunk ref — extent-pruned manifest scan
    * (`get_old_chunk`, session.rs:1211-1247) under the changeset check.
    */
  def getChunkRef(path: String, coord: Seq[Int]): Option[ChunkRef] = {
    val n = arrayNode(path)
    val fromChanges: Option[ChunkRef] =
      if (!changeSet.hasChunkChanges) None
      else if (changeSet.pointOnly)
        // driver-known staged rows: zero Spark jobs (point edits are the
        // interactive write pattern; a ~100 ms job floor per read on a
        // dirty session is pure overhead)
        changeSet.resolvedPointEdits
          .find(r => r.node_id == n.id && r.coord == coord)
      else changeSet.chunkChanges(spark)
        .filter(col("node_id") === n.id && col("coord") ===
          typedLit(coord)).as(chunkRefEnc).collect().headOption
    resolveStaged(fromChanges, n, coord)
  }

  /** Staged-or-committed resolution shared by the single and batched
    * lookups: a staged delete hides the committed ref, a staged write
    * wins, otherwise fall through to the extent-pruned committed path.
    */
  private def resolveStaged(staged: Option[ChunkRef], n: NodeSpec,
      coord: Seq[Int],
      lookup: (graft.meta.ManifestRef, String, Seq[Int]) => Option[ChunkRef]
        = null): Option[ChunkRef] =
    staged match {
      case Some(r) if r.kind == ChunkRef.KindDelete => None
      case Some(r) => Some(r)
      case None =>
        if (changeSet.rewrittenNodes.contains(n.id)) None
        else {
          // prune manifests by extents before touching Parquet, then go
          // through the driver-side split cache (hot lookups are O(1))
          val look = Option(lookup).getOrElse(assets.lookupRef _)
          val candidates = baseSnapshot.manifests.getOrElse(n.id, Nil)
            .filter(_.contains(coord))
          candidates.iterator
            .flatMap(mref => look(mref, n.id, coord))
            .nextOption()
        }
    }

  /** ONE changeset probe for a whole batch of (node_id, coord) requests
    * (VERDICT r14 item 3): point-only changesets answer from the
    * driver-side staged map (zero Spark jobs); staged-batch changesets
    * pay ONE semi-joined filtered collect for the full request set
    * instead of one ~100 ms single-row collect per request.
    */
  private def stagedRefsFor(pairs: Seq[(String, Seq[Int])])
      : Map[(String, Seq[Int]), ChunkRef] =
    if (!changeSet.hasChunkChanges || pairs.isEmpty) Map.empty
    else if (changeSet.pointOnly)
      changeSet.resolvedPointEdits.iterator
        .map(r => ((r.node_id, r.coord: Seq[Int]), r)).toMap
    else {
      import org.apache.spark.sql.types._
      import scala.jdk.CollectionConverters._
      val reqDf = spark.createDataFrame(
        pairs.distinct.map { case (n, c) =>
          org.apache.spark.sql.Row(n, c) }.asJava,
        StructType(Seq(StructField("node_id", StringType),
          StructField("coord", ArrayType(IntegerType)))))
      changeSet.chunkChanges(spark)
        .join(broadcast(reqDf), Seq("node_id", "coord"), "left_semi")
        .as(chunkRefEnc).collect()
        .iterator.map(r => ((r.node_id, r.coord: Seq[Int]), r)).toMap
    }

  /** Fetch + assemble chunk bytes (payload dispatch of §3.1 step 4). */
  def getChunk(path: String, coord: Seq[Int]): Option[Array[Byte]] =
    getChunkRef(path, coord).map(materialize(_))

  /** Batched point lookups: every split any requested coordinate's
    * extents match is warmed into the driver cache CONCURRENTLY first,
    * then each coordinate probes the warm cache — N cold lookups across
    * M splits cost ~1 round trip of wall time for the M shard reads,
    * not one list+GET pair per lookup (round-13 latency soak; the
    * reference's `get_partial_values` concurrency pattern,
    * config.rs:576-578). Results align with `coords` by index.
    */
  def getChunkRefs(path: String, coords: Seq[Seq[Int]]): Seq[Option[ChunkRef]] =
    getChunkRefsBatch(coords.map(c => (path, c)))

  /** Cross-array form of [[getChunkRefs]]: one concurrent warm wave for
    * every (array, coordinate) pair — an ERA5-style time slice across
    * 4 arrays costs ~2 round trips, not 4 sequential per-array batches
    * (SURVEY §10). Results align with `reqs` by index.
    */
  def getChunkRefsBatch(
      reqs: Seq[(String, Seq[Int])]): Seq[Option[ChunkRef]] = {
    val nodeOf: Map[String, NodeSpec] =
      reqs.map(_._1).distinct.map(p => p -> arrayNode(p)).toMap
    val parts = reqs.groupBy(_._1).toSeq.flatMap { case (path, group) =>
      val n = nodeOf(path)
      if (changeSet.rewrittenNodes.contains(n.id)) Nil
      else {
        val mrefs = baseSnapshot.manifests.getOrElse(n.id, Nil)
        group.flatMap { case (_, c) =>
          mrefs.filter(_.contains(c)).map(m => (m, n.id)) }
      }
    }
    assets.warmSplits(parts)
    // one changeset probe for the WHOLE batch (zero Spark jobs when the
    // session's edits are driver-known point writes, one when batches
    // are staged) — never one single-row collect per request
    val staged = stagedRefsFor(
      reqs.map { case (p, c) => (nodeOf(p).id, c) })
    // splits past the driver-cache cap cannot be warmed — prefetch them
    // in ONE concurrent wave of MULTI-coordinate filtered ranged reads
    // (one OR-predicate read per split data file serves every requested
    // coordinate: footer + column index read once, round 15), so a
    // 100-coordinate slice through oversized splits costs ~1 file read
    // of RTT, not 100 independent filtered reads re-fetching the same
    // footer; cacheable-split probes hit the warm cache either way
    val overParts = reqs.groupBy(_._1).toSeq.flatMap { case (path, group) =>
      val n = nodeOf(path)
      if (changeSet.rewrittenNodes.contains(n.id)) Nil
      else baseSnapshot.manifests.getOrElse(n.id, Nil)
        .filter(_.numRefs > assets.MaxCachedRefsPerSplit)
        .map(m => (m, n.id, group.map(_._2).filter(m.contains).distinct))
        .filter(_._3.nonEmpty)
    }
    val pre: Map[(String, Int, String), Map[Seq[Int], ChunkRef]] =
      graft.storage.Store.parallelIO(overParts) { case (m, nid, cs) =>
        ((m.manifestId, m.split, nid), assets.lookupRefsBatch(m, nid, cs))
      // MERGE on key collision, never overwrite: path→node is 1:1 in a
      // snapshot today, but if aliasing ever made two request paths
      // resolve to one node id, `.toMap` would silently drop the first
      // group's hits (ADVICE r15)
      }.groupMapReduce(_._1)(_._2)(_ ++ _)
    def committedLookup(m: graft.meta.ManifestRef, nid: String,
        c: Seq[Int]): Option[ChunkRef] =
      if (m.numRefs > assets.MaxCachedRefsPerSplit)
        pre.get((m.manifestId, m.split, nid)).flatMap(_.get(c))
      else assets.lookupRef(m, nid, c)
    // all store IO happened in the warm + prefetch waves above — the
    // per-request resolution below is pure driver memory
    reqs.map { case (p, c) =>
      val n = nodeOf(p)
      resolveStaged(staged.get((n.id, c)), n, c, committedLookup)
    }
  }

  /** [[getChunkRefsBatch]] with the payloads materialized: refs resolve
    * in one wave, then inline/object/virtual payloads fetch CONCURRENTLY.
    * Results align with `reqs` by index (misses are None). Pass
    * `cacheable = false` for a read that touches each chunk once (the
    * bulk-scan contract of [[graft.storage.ChunkCache.getOrFetch]]).
    */
  def getChunksBatch(reqs: Seq[(String, Seq[Int])],
      cacheable: Boolean = true): Seq[Option[Array[Byte]]] =
    graft.storage.Store.parallelIO(getChunkRefsBatch(reqs))(
      _.map(materialize(_, cacheable)))

  private[graft] def materialize(r: ChunkRef,
      cacheable: Boolean = true): Array[Byte] = r.kind match {
    case ChunkRef.KindInline => r.inline
    case ChunkRef.KindRef =>
      assets.readChunk(r.chunk_id, r.offset, r.length, cacheable)
    case ChunkRef.KindVirtual =>
      repo.virtualResolver.fetch(r.location, r.offset, r.length, r.etag,
        r.last_modified)
    case other => throw new GraftException(s"unexpected payload kind $other")
  }

  /** Byte range `[from, to)` of a chunk's payload, clamped to `[0, len)`
    * — pushed down as ONE ranged GET for object-backed refs (a 4 KB
    * partial read of a 128 MB chunk never fetches the chunk;
    * `get_object_range`, storage.rs:196-206). Inline payloads slice in
    * memory.
    */
  private[graft] def materializeRange(r: ChunkRef, from: Long,
                                      to: Long): Array[Byte] = {
    def clamp(len: Long): (Long, Long) = {
      val f = math.max(0L, math.min(from, len))
      (f, math.max(f, math.min(to, len)))
    }
    r.kind match {
      case ChunkRef.KindInline =>
        val (f, t) = clamp(r.inline.length.toLong)
        java.util.Arrays.copyOfRange(r.inline, f.toInt, t.toInt)
      case ChunkRef.KindRef =>
        // length == 0 means "whole object" (unknown size): issue the range
        // as-is and let EOF clamp it server-side
        val (f, t) =
          if (r.length > 0) clamp(r.length)
          else (math.max(0L, from), math.max(from, to))
        if (t == f) Array.emptyByteArray
        else assets.readChunk(r.chunk_id, r.offset + f, t - f)
      case ChunkRef.KindVirtual =>
        val (f, t) =
          if (r.length > 0) clamp(r.length)
          else (math.max(0L, from), math.max(from, to))
        if (t == f) Array.emptyByteArray
        else repo.virtualResolver.fetch(r.location, r.offset + f, t - f,
          r.etag, r.last_modified)
      case other => throw new GraftException(s"unexpected payload kind $other")
    }
  }

  // ------------------------------------------------------------------
  // lifecycle
  // ------------------------------------------------------------------

  def status(): String = {
    val cs = changeSet
    s"new=${cs.newNodes.size} updated=${cs.updatedNodes.size} " +
      s"deleted=${cs.deletedNodes.size} moves=${cs.moves.size} " +
      s"chunkEdits=${cs.hasChunkChanges}"
  }

  def discardChanges(): Unit = {
    changeSet.discard()
    cleanupStaging()
  }

  /** Delete every node in the hierarchy except the root group
    * (`Session::clear`, session.rs:1358) — tombstone-all.
    */
  def clear(): Unit = {
    requireWritable()
    nodes.filter(_.path != "/").map(_.path)
      .filter(p => node(p).isDefined) // parent deletes cascade
      .foreach(p => if (node(p).isDefined) deleteNode(p))
  }

  /** Fork for out-of-band distributed writes (session.rs:656). In Spark the
    * fork/merge dance collapses: executors stage refs, the driver merges
    * changesets (`Session::merge`, session.rs:1524).
    */
  def fork(): Session = {
    val s = new Session(repo, branch, baseSnapshot, moveOnly)
    s.openInfo = openInfo // same capture point; CAS guard re-validates
    s
  }

  def merge(other: Session): Unit = {
    require(other.base.id == base.id, "can only merge sessions with same base")
    changeSet.merge(other.changeSet)
    stagingKeys ++= other.stagingKeys
    other.stagingKeys.clear() // ownership moves: no double delete
  }

  /** Write a detached snapshot without moving any branch (`flush`,
    * session.rs:1608).
    */
  def flush(message: String,
            properties: Map[String, String] = Map.empty): Snapshot =
    flushInternal(message, properties)

  /** Anonymous commit: flush AND register the snapshot in the repo info
    * WITHOUT moving any branch — the dangling-commit shape (reachable by
    * id, shows in `lookupSnapshot`/`inspect`, ancestry walks to root;
    * GC'd like any unreferenced snapshot once past the age guard unless a
    * branch/tag is later pointed at it). The session advances onto the
    * new snapshot and keeps working detached.
    */
  def commitDetached(message: String,
                     properties: Map[String, String] = Map.empty): String = {
    requireWritable()
    if (changeSet.isEmpty)
      throw new GraftException("nothing to commit")
    val snapshot = flushInternal(message, properties)
    repo.casUpdate("commit_detached",
      s"snapshot=${snapshot.id} message=$message") { i =>
      i.copy(snapshots = i.snapshots :+ SnapshotInfo(snapshot.id,
        snapshot.parentId, snapshot.flushedAt, message,
        mergedFrom = mergeParent))
    }
    baseSnapshot = snapshot
    changeSet.discard()
    cleanupStaging()
    snapshot.id
  }

  /** The flush process (session.rs:2515-2848), as ONE Spark job over all
    * changed arrays: merge changeset over committed refs, bucket into
    * manifest splits, write sorted Parquet, then assemble the snapshot +
    * tx log. Unchanged arrays keep their manifest refs verbatim (appends
    * rewrite only the touched shards).
    */
  private[repo] def flushInternal(message: String,
      properties0: Map[String, String],
      parentOverride: Option[Option[String]] = None,
      mergeTxLogOf: Option[String] = None): Snapshot =
    graft.core.Trace.span("flush") { h =>
      val s = flushImpl(message, properties0, parentOverride, mergeTxLogOf)
      h.set("snapshot_id", s.id)
      h.set("nodes", s.nodes.size.toLong)
      s
    }

  private def flushImpl(message: String,
      properties0: Map[String, String],
      parentOverride: Option[Option[String]],
      mergeTxLogOf: Option[String]): Snapshot = {
    requireWritable()
    // repo-wide default commit metadata rides under the caller's keys
    val properties = sessionDefaultMeta ++ properties0
    val effective = nodes
    val byId = effective.map(n => n.id -> n).toMap
    val snapId = Ids.toBase32(Ids.newObjectId())

    // full-rewrite nodes: reindexed/shifted arrays (coordinate table
    // replaced) and SHRUNK arrays (stale out-of-bounds refs must be
    // flushed out of every shard — even with no chunk edits). Growing an
    // array — the append_dim workflow — keeps the one-shard rewrite.
    def shrunk(n: NodeSpec): Boolean =
      baseSnapshot.nodeById(n.id).exists { old =>
        old.isArray && (old.shape.size != n.shape.size ||
          old.numChunksPerDim.zip(n.numChunksPerDim).exists {
            case (oldN, newN) => newN < oldN
          })
      }
    val shrunkIds = changeSet.updatedNodes.values
      .filter(n => n.isArray && shrunk(n)).map(_.id).toSet

    var newRefs: Map[String, Seq[ManifestRef]] = Map.empty
    var touchedSplits: Map[String, Set[Int]] = Map.empty
    // the chunk keys the kernel logged on the driver route; the Spark
    // route's tasks write theirs as tx-log shards
    var loggedKeys: Seq[EditRow] = Nil
    // Spark-path flush cache (resolved changeset); released in the
    // enclosing finally so a throw ANYWHERE after the persist (collect,
    // manifest write, snapshot write) cannot leak blocks into the CAS
    // retry loop's next attempt
    var flushCached: Option[DataFrame] = None
    try {

    // Resolve a small NON-point changeset driver-side FIRST (r16): the
    // resolved rows answer BOTH the changed-node-id set (otherwise its
    // own distinct+collect job in chunkEditNodeIds) and the driver
    // route below. r17: the collect runs over the RAW (window-free)
    // changes relation and resolves precedence driver-side
    // (ChangeSet.collectRawHead) — no precedence-window exchange+sort is
    // planned anywhere in the flush anymore. The raw frame is persisted
    // so the Spark fallback of an over-bound changeset reuses the same
    // staging-scan materialization; the memo shares the resolution with
    // conflict detection and CAS retries.
    val collectedRefs: Option[Seq[ChunkRef]] =
      if (changeSet.pointOnly || !changeSet.hasChunkChanges ||
          shrunkIds.nonEmpty || changeSet.rewrittenNodes.nonEmpty) None
      else changeSet.resolvedDriverCached.getOrElse {
        val rawAll = changeSet.chunkChangesRaw(spark)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        flushCached = Some(rawAll)
        val v = ChangeSet.collectRawHead(rawAll, Session.SmallCommitMaxRefs)
        changeSet.seedResolvedDriver(v)
        v
      }
    // changed-node discovery: from the resolved rows when available (a
    // node whose edits were ALL excluded by rebase counts as unchanged —
    // same manifests either way, the Spark path just reached that via an
    // empty merge), else the distributed distinct
    val editNodeIdsAll = collectedRefs match {
      case Some(rows) => rows.iterator.map(_.node_id).toSet ++ shrunkIds
      case None => changeSet.chunkEditNodeIds(spark) ++ shrunkIds
    }
    val changedIds =
      editNodeIdsAll.filter(id => byId.get(id).exists(_.isArray))
    val fullRewrite: Set[String] =
      (changeSet.rewrittenNodes.toSet ++ shrunkIds)
        .filter(changedIds.contains)
    // both routes run the one flush kernel: it writes the changed shards
    // and logs every edited key — of arrays, and of nodes edited but no
    // longer arrays (logged with no manifest)
    val manifestId = Ids.toBase32(Ids.newObjectId())
    val grids = changedIds.iterator.map(id =>
      id -> (byId(id).numChunksPerDim: Seq[Int])).toMap
    val pathOf = {
      val all = (effective ++ baseSnapshot.nodes).map(n => n.id -> n.path).toMap
      editNodeIdsAll.iterator.map(id => id -> all.getOrElse(id, null)).toMap
    }

    // ---- small-commit fast path: changesets whose resolved edits the
    // driver holds merge + write entirely DRIVER-side (no Spark job
    // anywhere in the flush) — the reference's sub-second interactive
    // commit (benches/manifest.rs:329). Eligible when no shape
    // shrink/reindex forces a full rewrite, and each previous shard to
    // merge is small enough to hold in memory
    // (Session.SmallCommitMaxShardRefs; see its scaladoc for the cost
    // model). Rewritten nodes qualify when the driver holds their rows (a
    // point-only changeset — compaction's driver route): no committed
    // shard merges into them, and their rows are committed refs the
    // caller already read under that bound, so neither the staged-collect
    // bound (SmallCommitMaxRefs) nor the per-shard bound applies to them.
    // Everything else falls through to the Spark path.
    val splitRuleOf = scala.collection.mutable.HashMap[String, (Int, Int)]()
    def splitOfRef(r: ChunkRef): Int =
      if (!changedIds.contains(r.node_id)) 0
      else {
        val (axis, sz) = splitRuleOf.getOrElseUpdate(r.node_id,
          cfg.splitFor(byId(r.node_id)))
        (if (axis < r.coord.size) r.coord(axis) else 0) / sz
      }
    val heldRewrite: Set[String] =
      if (changeSet.pointOnly) fullRewrite else Set.empty
    val driverEdits =
      if (changeSet.pointOnly) Some(changeSet.resolvedPointEdits)
      else collectedRefs
    lazy val pointRefs = driverEdits.getOrElse(Nil)
      .filter(r => changedIds.contains(r.node_id))
    lazy val mergedRefs = pointRefs.filterNot(r => heldRewrite(r.node_id))
    val onDriver = driverEdits.isDefined &&
      shrunkIds.isEmpty && changeSet.rewrittenNodes.forall(heldRewrite) &&
      mergedRefs.size <= Session.SmallCommitMaxRefs &&
      mergedRefs.groupBy(_.node_id).forall { case (id, refs) =>
        val touched = refs.map(splitOfRef).toSet
        baseSnapshot.manifests.getOrElse(id, Nil)
          .filter(m => touched.contains(m.split))
          .forall(_.numRefs <= Session.SmallCommitMaxShardRefs)
      }
    if (onDriver) {
      touchedSplits = pointRefs.groupBy(_.node_id)
        .map { case (n, rs) => n -> rs.map(splitOfRef).toSet }
      // the previous shards the edits merge into, at precedence −1
      val prevShards = touchedSplits.toSeq.flatMap { case (node, splits) =>
        if (heldRewrite.contains(node)) Nil
        else baseSnapshot.manifests.getOrElse(node, Nil)
          .filter(m => splits.contains(m.split)).map(m => (m, node))
      }
      // bounded-concurrency read of the previous shards (#2274,
      // `max_concurrent_manifest_fetches_during_commit`): each shard is
      // one ranged GET on a real object store. Default 1 keeps the
      // reference's serial behavior.
      val rows = graft.storage.Store.parallelIO(prevShards,
          math.max(1, cfg.manifestFetchConcurrency)) { case (m, node) =>
        assets.shardRefsDriver(m, node)
          .map(r => graft.meta.AssetManager.FlushRow(r, m.split, -1.0))
      }.flatten ++ driverEdits.get.map(r =>
        graft.meta.AssetManager.FlushRow(r, splitOfRef(r), 0.0))
      if (rows.nonEmpty) {
        val (refs, keys) = assets.writeManifestDriver(manifestId, rows, grids)
        newRefs = refs
        loggedKeys = keys.map { case (n, c) =>
          EditRow.chunk(n, pathOf.getOrElse(n, null), c) }
      }
    } else if (changedIds.nonEmpty || changeSet.hasChunkChanges) {
      // persist the RAW changeset for the flush's duration: the staging
      // scans otherwise re-run for the touched-splits collect and the
      // fused manifest write (released before flushInternal returns).
      // The small-changeset probe above may already hold the persisted
      // handle — reuse it so the scan materializes exactly once. No
      // precedence window runs here at all (r17): last-write-wins
      // resolves INSIDE the fused write's one exchange+sort.
      val changesAll = flushCached.getOrElse {
        val c = changeSet.chunkChangesRaw(spark)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        flushCached = Some(c)
        c
      }
      // manifest split bucketing (config DSL — config.rs:168-263); rows
      // of nodes without a split rule (no longer arrays) bucket to 0
      val splitSpecs = changedIds.toSeq.map { id =>
        val (axis, sz) = cfg.splitFor(byId(id))
        (id, axis, sz)
      }
      val splitDf =
        spark.createDataFrame(splitSpecs).toDF("node_id", "axis", "splitsz")
      def bucket(df: org.apache.spark.sql.DataFrame) =
        df.join(broadcast(splitDf), Seq("node_id"), "left")
          .withColumn("split", coalesce(
            coalesce(try_element_at(col("coord"), col("axis") + 1), lit(0))
              .divide(col("splitsz")).cast("int"), lit(0)))
          .drop("axis", "splitsz")
      val changesWithSplit = bucket(changesAll)

      // which (node, split) shards does this flush touch? Only those are
      // rewritten — an append rewrites ONE shard, the core write-
      // amplification control of manifest splitting
      // (design-docs/005-manifest-split.md; flush session.rs:2642-2848).
      // Point-only changesets know their coords driver-side: same split
      // arithmetic as bucket(), zero Spark jobs.
      // touched splits matter only for nodes that HAVE committed shards
      // (they select which previous shards merge in and which drop from
      // the snapshot); a first write to a node has neither, so the
      // distinct+collect job is skipped outright for it (r17, guide §5:
      // the bulk first-commit — engine_write_500k's shape — paid a full
      // pass over the changeset for an empty answer).
      val mergeNodes = changedIds.toSeq.filterNot(fullRewrite.contains)
      val nodesWithPrev = mergeNodes.filter(n =>
        baseSnapshot.manifests.getOrElse(n, Nil).nonEmpty)
      touchedSplits =
        if (changeSet.pointOnly)
          pointRefs.groupBy(_.node_id)
            .map { case (n, rs) => n -> rs.map(splitOfRef).toSet }
        else if (nodesWithPrev.isEmpty) Map.empty
        else graft.core.Trace.span("flush.splits") { _ =>
          changesWithSplit
          .filter(col("node_id").isin(nodesWithPrev: _*))
          .select("node_id", "split").distinct().collect()
          .groupBy(_.getString(0))
          .map { case (n, rows) => n -> rows.map(_.getInt(1)).toSet }
        }
      val prevTouched = {
        val all = assets.committedRefs(baseSnapshot, mergeNodes)
        val conds = mergeNodes.flatMap { n =>
          touchedSplits.get(n).map(splits =>
            col("node_id") === n && col("split").isin(splits.toSeq: _*))
        }
        if (conds.isEmpty) assets.emptyRefs()
        else all.filter(conds.reduce(_ || _))
      }.drop("split")
      // shape-updated arrays re-merge ALL their previous shards
      val prevFull = assets.committedRefs(baseSnapshot,
        fullRewrite.toSeq.filterNot(changeSet.rewrittenNodes.contains))
        .drop("split")
      // changeset-over-snapshot merge (session.rs:2587-2635), expressed
      // as pure precedence (r17): committed rows ride with _batch = -1 —
      // strictly below every staged/point stamp — so the kernel's
      // last-write-wins step IS the old anti-join+union. One exchange
      // (the write repartition), one sort, one job, extents and the
      // chunk tx-log shards as task output.
      val prev = bucket(prevTouched.unionByName(prevFull))
        .withColumn("_batch", lit(-1.0))
      newRefs = assets.writeManifestFused(manifestId,
        changesWithSplit.unionByName(prev), grids,
        Some(graft.meta.AssetManager.FusedTxSpec(
          graft.meta.Layout.txLogPrefix(snapId), pathOf)))
    }

    // manifest assembly: unchanged arrays carry everything; merged arrays
    // carry their untouched shards + the freshly written ones; full
    // rewrites carry nothing
    val manifests: Map[String, Seq[ManifestRef]] =
      effective.filter(_.isArray).flatMap { n =>
        val prevRefs = baseSnapshot.manifests.getOrElse(n.id, Nil)
        val refs: Seq[ManifestRef] =
          if (!changedIds.contains(n.id)) prevRefs
          else if (fullRewrite.contains(n.id)) newRefs.getOrElse(n.id, Nil)
          else {
            val touched = touchedSplits.getOrElse(n.id, Set.empty)
            prevRefs.filterNot(r => touched.contains(r.split)) ++
              newRefs.getOrElse(n.id, Nil)
          }
        if (refs.isEmpty) None else Some(n.id -> refs)
      }.toMap
    val snapshot = Snapshot(
      id = snapId,
      parentId = parentOverride.getOrElse(Some(baseSnapshot.id)),
      message = message,
      flushedAt = Instant.now().toString,
      properties = properties,
      nodes = effective,
      manifests = manifests)
    // the snapshot document and the transaction log are independent
    // write-once objects — upload them concurrently (one RTT instead of
    // two on the interactive-commit path; the CAS that publishes them
    // happens strictly after both land, so partial visibility is
    // impossible)
    graft.core.Trace.span("flush.finalize") { _ =>
      graft.storage.Store.parallelIO[() => Unit, Unit](Seq(
        () => assets.writeSnapshot(snapshot),
        () => writeTxLog(snapshot, loggedKeys, mergeTxLogOf)))(f => f())
    }
    snapshot

    } finally flushCached.foreach(_.unpersist(false))
  }

  /** Transaction log for this flush (transaction_log.rs): the node edits
    * and the chunk keys the kernel logged on the driver route land as one
    * file (the Spark route's tasks already wrote theirs), and an amend
    * copies the replaced tip's log in, so `diff` across the amend still
    * reports the full edit set (the reference keeps the amended log
    * addressable; SURVEY §8).
    */
  private def writeTxLog(snapshot: Snapshot, chunkKeys: Seq[EditRow],
                         mergeTxLogOf: Option[String]): Unit = {
    val nodeEdits =
      changeSet.newNodes.values.map(n => EditRow.node(
        if (n.isArray) EditRow.NewArray else EditRow.NewGroup, n.id, n.path)) ++
      changeSet.updatedNodes.values.map(n => EditRow.node(
        if (n.isArray) EditRow.UpdateArray else EditRow.UpdateGroup,
        n.id, n.path)) ++
      changeSet.deletedNodes.map { case (p, t) =>
        EditRow.node(if (t == NodeSpec.Array) EditRow.DeleteArray
          else EditRow.DeleteGroup,
          baseSnapshot.nodes.find(_.path == p).map(_.id).getOrElse(""), p) } ++
      changeSet.moves.map { case (id, f, t) => EditRow.move(id, f, t) }
    assets.writeTxLogDriver(snapshot.id, nodeEdits.toSeq ++ chunkKeys)
    mergeTxLogOf.foreach(assets.copyTxLog(_, snapshot.id))
  }

  /** Commit: optimistic CAS loop with rebase-on-conflict
    * (do_commit_v2 + do_commit_rebasing, session.rs:3194-3402, 1767).
    * `amend = true` replaces the branch tip instead of appending
    * (CommitBuilder::amend + parent rewrite, session.rs:352, 3353-3371):
    * the new snapshot's parent is the tip's parent, and the replaced tip
    * leaves the snapshot list (its files stay until GC). Amend refuses to
    * run over concurrent commits — there is no meaningful rebase for
    * history rewriting.
    */
  def commit(message: String,
             properties: Map[String, String] = Map.empty,
             solver: graft.vc.ConflictSolver =
               graft.vc.BasicConflictSolver(),
             amend: Boolean = false,
             allowEmpty: Boolean = false,
             hooks: graft.vc.RebaseHooks = graft.vc.RebaseHooks.none): String =
    graft.core.Trace.span("commit",
      "branch" -> branch.getOrElse("<detached>"),
      "amend" -> amend.toString) { h =>
      val id = commitImpl(message, properties, solver, amend, allowEmpty,
        hooks)
      h.set("snapshot_id", id)
      id
    }

  private def commitImpl(message: String,
             properties: Map[String, String],
             solver: graft.vc.ConflictSolver,
             amend: Boolean,
             allowEmpty: Boolean,
             hooks: graft.vc.RebaseHooks): String = {
    requireWritable()
    if (amend) repo.requireFlag(repo.Flags.Amend, "amend")
    // refuse accidental empty commits (CommitBuilder::allow_empty)
    if (changeSet.isEmpty && !allowEmpty && !amend)
      throw new GraftException(
        "nothing to commit (pass allowEmpty = true to record an empty commit)")
    val branchName = branch.get
    var snapshot: Snapshot = null
    var flushedAgainst: String = null
    var attempts = 0
    // Progress-aware retry budget (VERDICT r14 item 4): a lost CAS round
    // where the generation ADVANCED proves a peer landed — that is
    // lock-free system progress, and the worst case is one lost round
    // per commit the rest of the convoy lands (N writers × C commits),
    // which the flat `commitRetries` cap (default 20) under-sizes for
    // any convoy wider than ~4. So stalled rounds (no foreign progress
    // observed — pathological store behavior) burn the configured
    // budget, while progressing rounds draw on a configurable hard cap
    // (default 16×, `commit_retries_hard_cap_x`) that bounds even an
    // adversarial convoy without livelocking a healthy one — and lets
    // latency-sensitive deployments bound time-to-failure (ADVICE r15).
    // `foreignCommits` feeds the exhaustion message so the fix
    // (raise commit_retries / reduce writer fan-in) is actionable.
    var stalls = 0
    var foreignCommits = 0L
    var lastGen = -1L
    val hardCap = cfg.commitAttemptCap
    while (stalls < cfg.commitRetries && attempts < hardCap) {
      attempts += 1
      // Optimistic first attempt: reuse the pointer document the session
      // was OPENED with (round 13, saves the pointer GET per uncontended
      // commit). The CAS contract alone is NOT enough to make this safe:
      // put-if-absent on generation openGen+1 only proves that SLOT was
      // empty, and GC's pruneGenerations DELETES old slots — if the tip
      // advanced >= opsRingSize generations (commits on other branches,
      // tag/admin/GC updates) since open and a prune ran, openGen+1 is a
      // pruned hole, the conditional PUT lands there "successfully", and
      // the commit is invisible (latestGen still resolves the real tip)
      // until GC silently sweeps it (ADVICE r13, high). So the cached
      // document is only trusted after a one-listPage recency probe:
      // latestGen() == openGen means the chain has not moved AT ALL since
      // open, which makes openGen+1 strictly above any prune horizon —
      // exactly the same (milliseconds-wide) load→CAS window the
      // non-optimistic path has, while still saving the pointer GET.
      val info = (if (attempts == 1) openInfo.filter(oi =>
          oi.branches.get(branchName).contains(baseSnapshot.id) &&
            repo.pointer.latestGen() == oi.gen)
        else None).getOrElse(
        repo.pointer.load().getOrElse(
          throw new GraftException("repository not initialized")))
      if (lastGen >= 0) {
        if (info.gen > lastGen) foreignCommits += info.gen - lastGen
        else stalls += 1 // lost a round with NO observed foreign progress
      }
      lastGen = info.gen
      // the admin lock also catches commits whose session predates it
      if (info.statusAvailability == "read_only")
        throw new GraftException(
          "repository is read_only — commit refused" +
            Option(info.statusReason).filter(_.nonEmpty)
              .map(r => s" ($r)").getOrElse(""), GraftError.ReadOnly)
      val tip = info.branches.getOrElse(branchName,
        throw new GraftException(s"branch $branchName does not exist", GraftError.RefNotFound))
      if (tip != baseSnapshot.id) {
        if (amend) throw new ConflictException(
          s"amend on $branchName: tip moved ($tip != ${baseSnapshot.id})")
        // concurrent commits landed: rebase our changeset onto the new tip
        // (before/after hooks — third-party validation, session.rs:377-386)
        hooks.beforeRebase(this, tip)
        graft.vc.Rebase.rebase(this, info, tip, solver)
        baseSnapshot = assets.readSnapshot(tip)
        hooks.afterRebase(this, tip)
        snapshot = null // force re-flush against new base
      }
      if (snapshot == null || flushedAgainst != baseSnapshot.id) {
        snapshot = flushInternal(message, properties,
          if (amend) Some(baseSnapshot.parentId) else None,
          mergeTxLogOf = if (amend) Some(baseSnapshot.id) else None)
        flushedAgainst = baseSnapshot.id
      }
      val entry = OpLogEntry(Instant.now().toString,
        if (amend) "amend" else "commit",
        s"branch=$branchName snapshot=${snapshot.id} message=$message")
      val kept = if (amend) info.snapshots.filterNot(_.id == baseSnapshot.id)
        else info.snapshots
      val next = info.copy(
        gen = info.gen + 1,
        branches = info.branches.updated(branchName, snapshot.id),
        snapshots = kept :+ SnapshotInfo(snapshot.id,
          snapshot.parentId, snapshot.flushedAt, message,
          mergedFrom = mergeParent),
        ops = (info.ops :+ entry).takeRight(cfg.opsRingSize))
      if (repo.pointer.compareAndSwap(info.gen, next)) {
        baseSnapshot = snapshot
        // the cached open-time info is now behind the tip; drop it
        // rather than caching `next` — `next` is the UN-packed document
        // (full inline snapshot list, pre-merge segment list), and
        // packing later commits against that stale layout would re-spill
        // an ever-growing segment per commit (O(session-commits²) bytes).
        // A later commit on this session pays one fresh pointer load —
        // the optimistic first attempt is for the open→commit pattern.
        openInfo = None
        changeSet.discard()
        cleanupStaging() // refs are in the manifest now
        return snapshot.id
      }
      // lost the CAS race — reload and retry (with rebase if needed),
      // after a short jittered backoff so N racers don't convoy: without
      // it, a loser that reloads instantly keeps colliding with the same
      // peers while the winner's successor is already committing
      // (ops/gc.rs retry-on-concurrent-update uses the same pattern).
      // No sleep at the hard cap; the stall-budget exit may pay one
      // final backoff (whether the NEXT reload shows progress is
      // unknowable here, and it is a failure path anyway).
      if (attempts < hardCap)
        Thread.sleep(
          math.min(200L, 10L << math.min(attempts, 4)) +
            scala.util.Random.nextInt(25))
    }
    throw new ConflictException(
      s"commit failed after $attempts attempts on $branchName: " +
        s"$foreignCommits concurrent pointer updates landed during the " +
        "retries — raise commit_retries (currently " +
        s"${cfg.commitRetries}) or reduce the writer fan-in")
  }

  /** Commit with JSON-typed properties (the reference's
    * `BTreeMap<String, serde_json::Value>`, snapshot.rs:304): structured
    * values encode via [[graft.meta.SnapshotProps]] and round-trip through
    * `lookupSnapshot(id).typedProperties`, including nested objects and
    * arrays.
    */
  def commitJson(message: String,
                 properties: Map[String, org.json4s.JValue],
                 solver: graft.vc.ConflictSolver =
                   graft.vc.BasicConflictSolver(),
                 amend: Boolean = false,
                 allowEmpty: Boolean = false,
                 hooks: graft.vc.RebaseHooks =
                   graft.vc.RebaseHooks.none): String =
    commit(message, graft.meta.SnapshotProps.encode(properties), solver,
      amend, allowEmpty, hooks)

  /** [[flush]] with JSON-typed properties. */
  def flushJson(message: String,
                properties: Map[String, org.json4s.JValue]): Snapshot =
    flush(message, graft.meta.SnapshotProps.encode(properties))
}

object Session {
  /** Small-commit fast-path bounds: a point-only changeset up to this many
    * refs flushes entirely driver-side (no Spark job) — the reference's
    * sub-second interactive commit (asset_manager.rs:71-147).
    */
  private[repo] val SmallCommitMaxRefs = 10000

  /** Shard-size ceiling for the driver-side merge: each previous shard the
    * fast path rewrites is one ranged GET + an O(shard) in-memory merge +
    * one parquet write (~25 MB transient at this bound), vs ~1 s of fixed
    * Spark-job overhead per flush on the fallback path — so the driver
    * route wins by an order of magnitude up to well past this bound. The
    * 10x scale soak (target/scale, round 12) caught the old 10 k bound as
    * a cliff: at 5 M refs / 100 splits every 50 k-ref shard fell onto the
    * Spark path and interactive commits went 33 ms -> 930 ms. Memory, not
    * time, sets the ceiling: refs are ~100 B driver-side, so 250 k keeps
    * the transient under ~25 MB against the default 8 GiB driver heap.
    * The driver-sized metadata ops compare their TOTAL refs against the
    * same bound ([[graft.meta.AssetManager.refsDriverBounded]]; compaction
    * uses a lower one, see `Compaction.DriverMaxRefs`).
    */
  private[graft] val SmallCommitMaxShardRefs = 250000
}
