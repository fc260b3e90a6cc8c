package graft.tensor

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}
import graft.functions.{ChunkCodec, CodecFunctions}
import graft.meta.ChunkRef
import graft.repo.{GraftException, Session}

/** The tensor value plane: arrays as (i0..iN, value) DataFrames — the
  * Spark-native extension the reference delegates to zarr-python (§3.1's
  * value decode, done inside the query engine so `SELECT avg(value)` works
  * directly).
  *
  * Executor-side chunk fetch is a UDF over the chunk-ref columns (IO-bound
  * — per-row ranged GETs, exactly the reference's fetch dispatch
  * session.rs:1274-1317); decode is the native [[DecodeChunkExpr]].
  */
object TensorPlane {

  /** Fragment-count bound for [[rechunk]]'s driver-side partitioning
    * route: below it the (metadata-sized) fragment relation collects once
    * and partitions driver-side with no sampling pass and no shuffle;
    * above it the Spark range-partitioned route runs unchanged. Sizing:
    * a fragment is coords + ref metadata (~150 B, plus inline payloads
    * bounded by the inline threshold), so 64 k fragments is a few MB of
    * driver transient against the default 8 GiB heap — and a 64 k-source
    * regrid is already well past interactive scale.
    */
  private final val RechunkDriverMaxFragments = 65536

  private def sessionFetch(session: Session) =
    fetchBytesUdf(session.repo.store.conf, session.repo.virtualResolver)

  /** Fetch chunk bytes on executors from the ref columns — the reference's
    * fetch dispatch (session.rs:1274-1317), per-row '''ranged''' GETs
    * through a per-executor cached store client ([[StoreConf.cached]]:
    * one connection pool per JVM, any backend). Virtual refs dispatch
    * through the serializable resolver — per-container stores, else
    * scheme dispatch via [[graft.virt.ByteFetch]].
    */
  def fetchBytesUdf(conf: graft.storage.StoreConf,
                    resolver: graft.virt.VirtualChunkResolver =
                      graft.virt.VirtualChunkResolver.default) = udf(
    (kind: String, inline: Array[Byte], chunkId: String, location: String,
     offset: Long, length: Long) =>
      fetchRef(conf, resolver, kind, inline, chunkId, location, offset,
        length,
        // value-plane scans read each (sub-)range once per query:
        // bypass the chunk cache (bulk-scan contract — see ChunkCache)
        cacheable = false))

  /** Task-side ref→bytes dispatch (the plain-function twin of
    * [[fetchBytesUdf]] for mapPartitions kernels). `cacheable = true`
    * routes through the per-executor chunk LRU — right when the SAME
    * chunk is read by several consumers in one job (rechunk fragments).
    */
  private[graft] def fetchRef(conf: graft.storage.StoreConf,
                              resolver: graft.virt.VirtualChunkResolver,
                              kind: String, inline: Array[Byte],
                              chunkId: String, location: String,
                              offset: Long, length: Long,
                              cacheable: Boolean): Array[Byte] =
    kind match {
      case ChunkRef.KindInline => inline
      case ChunkRef.KindRef =>
        val store = graft.storage.StoreConf.cached(conf)
        val key = graft.meta.Layout.chunkKey(chunkId)
        graft.storage.ChunkCache.getOrFetch(store, key, offset, length,
          cacheable = cacheable)(
          store.getRangeSplit(key, offset, length))
      case ChunkRef.KindVirtual =>
        resolver.ranged(location, offset, length)
      case _ => null
    }

  /** Chunk-ref rows with a materialized `bytes` column. */
  def chunkBytes(session: Session, path: String): DataFrame = {
    val fetch = sessionFetch(session)
    session.refs(path).withColumn("bytes",
      fetch(col("kind"), col("inline"), col("chunk_id"), col("location"),
        col("offset"), col("length")))
  }

  /** Explode an array into one row per element: (i0..iN, value), with
    * global indices computed from chunk coord × chunk shape + in-chunk
    * offset (row-major). Rows beyond the array bounds (partial edge
    * chunks) are filtered out. `value` is BIGINT for int dtypes, DOUBLE
    * for float dtypes.
    */
  def values(session: Session, path: String, dtype: String,
             compression: String = "raw"): DataFrame = {
    val node = session.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path"))
    valuesOfRefs(session, node, session.refs(path), dtype, compression)
  }

  /** Value explode over an explicit chunk-ref frame (lets callers hand in
    * a split-pruned subset — the connector's pushdown path).
    */
  def valuesOfRefs(session: Session, node: graft.meta.NodeSpec,
                   refs: DataFrame, dtype: String,
                   compression: String): DataFrame = {
    val shape = node.shape
    val ndim = shape.size
    val fetch = sessionFetch(session)
    // one ref row = megabytes of decoded values: spread chunks across
    // tasks BEFORE the explode, or a 1 GiB array decodes on one core
    // (a manifest's 128 rows easily fit one parquet partition)
    val spark = refs.sparkSession
    val exploded = refs
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .withColumn("bytes", fetch(col("kind"), col("inline"), col("chunk_id"),
        col("location"), col("offset"), col("length")))
      .select(col("coord"),
        posexplode(CodecFunctions.decode_chunk(col("bytes"), dtype,
          compression)))
    val withIdx =
      if (!node.isRectilinear) regularIndex(exploded, node, ndim)
      else rectIndex(exploded, node, ndim)
    val bounded = (0 until ndim).foldLeft(withIdx) { case (df, i) =>
      df.filter(col(s"i$i") < shape(i))
    }
    bounded.select((0 until ndim).map(i => col(s"i$i")) :+
      col("col").as("value"): _*)
  }

  /** Chunk refs that DIFFER between two versions of `path`: full-outer
    * join of the two ref relations on coord, keeping rows where any ref
    * field changed (rewritten chunk id, inline payload, virtual
    * location/range) or where the chunk exists on one side only. This
    * is the metadata prune of [[valueDiff]] — on a 100 TB array with
    * one rewritten chunk it returns one row.
    */
  def changedChunkRefs(oldSession: Session, newSession: Session,
                       path: String): DataFrame = {
    def side(s: Session, tag: String) = s.refs(path).select(col("coord"),
      struct(col("kind"), col("inline"), col("chunk_id"), col("location"),
        col("offset"), col("length")).as(tag))
    side(oldSession, "o")
      .join(side(newSession, "n"), Seq("coord"), "full_outer")
      .filter(!(col("o") <=> col("n")))
  }

  /** Value-plane snapshot diff: `(i0..iN, old_value, new_value)` for
    * every cell whose value differs between two versions. Cost scales
    * with the CHANGE at both granularities: [[changedChunkRefs]] prunes
    * to chunks whose refs differ before any payload is read, and the
    * [[DiffChunkExpr]] kernel emits ONLY differing cells — a one-cell
    * patch in a 100 TB array decodes two chunks and explodes one row
    * (the pre-round-7 shape exploded every cell of each changed chunk
    * and filtered). A chunk present on one side only reads as fill (0),
    * matching zarr's missing-chunk semantics. Both versions must share
    * the chunk grid (diff across a reindex/reshape is a different
    * operation).
    */
  def valueDiff(oldSession: Session, newSession: Session, path: String,
                dtype: String, compression: String = "raw"): DataFrame = {
    val nodeN = newSession.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path (new version)"))
    val nodeO = oldSession.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path (old version)"))
    if (nodeN.chunkShape != nodeO.chunkShape ||
        nodeN.chunkSizesPerDim != nodeO.chunkSizesPerDim) {
      // print the grid that actually differs — chunkShape is empty on
      // rect nodes, so the regular-only rendering said "( vs )"
      def grid(n: graft.meta.NodeSpec): String =
        if (n.isRectilinear) n.chunkSizesPerDim
          .map(_.mkString("[", ",", "]")).mkString("rect(", ",", ")")
        else n.chunkShape.mkString("x")
      throw new GraftException(
        s"valueDiff requires both versions to share the chunk grid " +
          s"(${grid(nodeO)} vs ${grid(nodeN)})")
    }
    val ndim = nodeN.shape.size
    val fetch = sessionFetch(newSession)
    def bytesOf(tag: String) = fetch(col(s"$tag.kind"), col(s"$tag.inline"),
      col(s"$tag.chunk_id"), col(s"$tag.location"), col(s"$tag.offset"),
      col(s"$tag.length"))
    val spark = newSession.refs(path).sparkSession
    val exploded = changedChunkRefs(oldSession, newSession, path)
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .select(col("coord"), explode(CodecFunctions.diff_chunks(
        bytesOf("o"), bytesOf("n"), dtype, compression)).as("e"))
      .select(col("coord"), col("e.pos").as("pos"),
        col("e.old").as("_ov"), col("e.new").as("_nv"))
    val withIdx =
      if (!nodeN.isRectilinear) regularIndex(exploded, nodeN, ndim)
      else rectIndex(exploded, nodeN, ndim)
    val bounded = (0 until ndim).foldLeft(withIdx) { case (df, i) =>
      df.filter(col(s"i$i") <
        math.max(nodeO.shape(i), nodeN.shape(i)))
    }
    bounded.select((0 until ndim).map(i => col(s"i$i")) ++ Seq(
      col("_ov").as("old_value"), col("_nv").as("new_value")): _*)
  }

  /** Global (i0..iN) indices for a regular grid from (coord, pos) —
    * constant chunk extents and strides.
    */
  private def regularIndex(exploded: DataFrame, node: graft.meta.NodeSpec,
                           ndim: Int): DataFrame = {
    val chunkShape = node.chunkShape
    val strides = chunkShape.indices.map(i => chunkShape.drop(i + 1).product)
    (0 until ndim).foldLeft(exploded) { case (df, i) =>
      df.withColumn(s"i$i",
        element_at(col("coord"), i + 1).cast("long") * chunkShape(i) +
          pmod(expr(s"pos div ${strides(i)}"), lit(chunkShape(i))))
    }
  }

  /** Global (i0..iN) index columns for a rectilinear grid
    * (store.rs:1158-1241): chunk extents vary per coordinate; per-dim
    * extent/start tables ship as literal arrays, strides are computed
    * per row right-to-left. Expects (`coord`, `pos`) columns like
    * [[regularIndex]].
    */
  private def rectIndex(exploded: DataFrame, node: graft.meta.NodeSpec,
                        ndim: Int): DataFrame = {
    val sizes = node.chunkSizesPerDim
    val starts = sizes.map(s => graft.meta.RectGrid.starts(s).toSeq)
    var df = exploded
    for (i <- 0 until ndim)
      df = df.withColumn(s"_e$i", element_at(typedLit(sizes(i)),
        element_at(col("coord"), i + 1) + 1))
    df = df.withColumn(s"_st${ndim - 1}", lit(1L))
    for (i <- (ndim - 2) to 0 by -1)
      df = df.withColumn(s"_st$i",
        col(s"_st${i + 1}") * col(s"_e${i + 1}"))
    for (i <- 0 until ndim)
      df = df.withColumn(s"i$i",
        element_at(typedLit(starts(i)),
          element_at(col("coord"), i + 1) + 1) +
          pmod(expr(s"pos div _st$i"), col(s"_e$i")))
    df
  }

  private def chunkBoundsOf(node: graft.meta.NodeSpec,
                            bounds: Seq[(Long, Long)]): Seq[(Int, Int)] = {
    require(bounds.size == node.shape.size, "bounds rank mismatch")
    if (!node.isRectilinear)
      bounds.zip(node.chunkShape).map { case ((lo, hi), c) =>
        require(lo >= 0 && hi > lo, s"bad bounds [$lo, $hi)")
        ((lo / c).toInt, ((hi - 1) / c).toInt)
      }
    else bounds.zip(node.chunkSizesPerDim).map { case ((lo, hi), sizes) =>
      require(lo >= 0 && hi > lo, s"bad bounds [$lo, $hi)")
      val starts = graft.meta.RectGrid.starts(sizes)
      (graft.meta.RectGrid.chunkOf(starts, lo).toInt,
        graft.meta.RectGrid.chunkOf(starts, hi - 1).toInt)
    }
  }

  /** Row-returning region read: element bounds `[lo, hi)` per dimension.
    * The 100 TB slice plan, end to end:
    *  - manifest splits are pruned on ALL dims against their extents
    *    before any Parquet is opened ([[Session.refsBounded]]);
    *  - surviving chunks decode ONLY the sub-block inside the region
    *    ([[DecodeChunkSliceExpr]]) — a 1-element slice of a 16 M-element
    *    chunk emits one row, not 16 M filtered rows.
    */
  def valuesRegion(session: Session, path: String, dtype: String,
                   bounds: Seq[(Long, Long)],
                   compression: String = "raw"): DataFrame = {
    val node = session.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path"))
    val ndim = node.shape.size
    // chunkBoundsOf zips bounds with the chunk grid — a short bounds
    // list would silently leave trailing axes unconstrained and return
    // the wrong region
    require(bounds.size == ndim,
      s"bounds must cover all $ndim dimensions of $path, got ${bounds.size}")
    val refs = session.refsBounded(path, chunkBoundsOf(node, bounds))
    val fetch = sessionFetch(session)
    val spark = refs.sparkSession
    val exploded = refs
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .withColumn("bytes", fetch(col("kind"), col("inline"), col("chunk_id"),
        col("location"), col("offset"), col("length")))
      .select(col("coord"), explode(CodecFunctions.decode_chunk_slice(
        col("bytes"), col("coord"), dtype, compression, node.chunkShape,
        bounds.map(_._1), bounds.map(_._2), node.chunkSizesPerDim)).as("e"))
      .select(col("coord"), col("e.pos").as("pos"), col("e.value").as("col"))
    val withIdx =
      if (!node.isRectilinear) regularIndex(exploded, node, ndim)
      else rectIndex(exploded, node, ndim)
    // slice decode already bounded; re-filter against the array shape so
    // partial edge chunks stay clipped (pruning never decides correctness)
    val bounded = (0 until ndim).foldLeft(withIdx) { case (df, i) =>
      df.filter(col(s"i$i") < node.shape(i))
    }
    bounded.select((0 until ndim).map(i => col(s"i$i")) :+
      col("col").as("value"): _*)
  }

  /** Driver-route bounds of [[sliceStats]]: a region whose touched
    * chunks fit one [[graft.storage.Store.parallelIO]] wave (32 threads)
    * and whose touched-chunk box decodes to at most 64 MiB reduces on
    * the driver. Sizing (4 vCPUs, `local[4]`, local disk, 2 MiB int64
    * chunks, 7 runs each): the driver route's median is 31 ms for one
    * chunk and 81 ms at the bound (32 chunks, 64 MiB), while the Spark
    * route's fastest run is 265-390 ms on every box from 2 to 128 MiB.
    * The byte bound caps the payloads the driver holds at once.
    */
  private final val SliceDriverMaxChunks = 32
  private final val SliceDriverMaxBytes = 64L << 20

  private val SliceStatsSchema = StructType(StructField("n", LongType) +:
    Seq("sum", "min", "max", "avg").map(StructField(_, DoubleType)))

  /** Region statistics with aggregation pushdown into the chunk kernel:
    * extents prune splits, [[ChunkSliceStatsExpr]] prunes within chunks,
    * and NO row machinery runs — the plan for `sum(value) over a slice`.
    * Exact on any bounds (unlike [[arrayStats]], padding cells of edge
    * chunks are excluded by the sub-block geometry as long as bounds are
    * clipped to the array shape).
    *
    * Two routes, chosen before any IO from the grid and the clipped
    * bounds. When the touched chunks number at most 32 and their box
    * decodes to at most 64 MiB, the read runs on the driver with ZERO
    * Spark jobs: refs resolve through [[Session.getChunkRefsBatch]]
    * (changeset precedence, split pruning), payloads fetch in one
    * concurrent wave bypassing the chunk cache, and each chunk reduces
    * through the same per-chunk rule as the Spark route
    * ([[graft.functions.SliceGeom.stats]]). The result is a one-row
    * local DataFrame with the Spark route's schema. Larger regions take
    * the Spark route (split-pruned ref scan, one task per chunk group,
    * one aggregate). An empty region (no stored chunk) yields one
    * all-null row on both routes.
    */
  def sliceStats(session: Session, path: String, dtype: String,
                 bounds: Seq[(Long, Long)],
                 compression: String = "raw"): DataFrame = {
    val node = session.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path"))
    // zips below would silently DROP unmatched dimensions (an
    // unconstrained axis returning the wrong region) — refuse instead
    require(bounds.size == node.shape.size,
      s"bounds must cover all ${node.shape.size} dimensions of $path, " +
        s"got ${bounds.size}")
    val clipped = bounds.zip(node.shape).map { case ((lo, hi), s) =>
      (lo, math.min(hi, s))
    }
    val chunkBounds = chunkBoundsOf(node, clipped)
    val chunks = chunkBounds.map { case (a, b) => BigInt(b - a + 1) }.product
    val boxCells =
      if (!node.isRectilinear) chunkBounds.zip(node.chunkShape).map {
        case ((a, b), c) => BigInt(b - a + 1) * c }.product
      else chunkBounds.zip(node.chunkSizesPerDim).map {
        case ((a, b), sizes) => BigInt(sizes.slice(a, b + 1).sum) }.product
    val boxBytes = boxCells * ChunkCodec.dtypeWidth(dtype)
    val onDriver = chunks <= SliceDriverMaxChunks &&
      boxBytes <= SliceDriverMaxBytes
    graft.core.Trace.span("slice", "path" -> path,
        "route" -> (if (onDriver) "driver" else "spark"),
        "chunks" -> chunks.toString, "bytes" -> boxBytes.toString) { _ =>
      if (onDriver)
        sliceStatsDriver(session, path, node, dtype, compression, clipped,
          chunkBounds)
      else sliceStatsSpark(session, path, node, dtype, compression, clipped,
        chunkBounds)
    }
  }

  private def sliceStatsDriver(session: Session, path: String,
      node: graft.meta.NodeSpec, dtype: String, compression: String,
      clipped: Seq[(Long, Long)], chunkBounds: Seq[(Int, Int)]): DataFrame = {
    val coords = chunkBounds.foldLeft(Seq(Seq.empty[Int])) {
      case (acc, (a, b)) => for (c <- acc; i <- a to b) yield c :+ i }
    val chunkShape = node.chunkShape.toArray
    val lo = clipped.map(_._1).toArray
    val hi = clipped.map(_._2).toArray
    val parts = coords.zip(session.getChunksBatch(coords.map((path, _)),
        cacheable = false)).collect { case (c, Some(bytes)) =>
      graft.functions.SliceGeom.stats(bytes, c.toArray, dtype, compression,
        chunkShape, node.chunkSizesPerDim, lo, hi)
    }
    // the Spark route's aggregate: every touched chunk overlaps the
    // region, so each stored one has cells in it; no stored chunk at all
    // is the all-null row
    val row =
      if (parts.isEmpty) Row(null, null, null, null, null)
      else {
        val n = parts.map(_.n).sum
        val sum = parts.map(_.sum).sum
        Row(n, sum, parts.map(_.min).reduce(_ min _),
          parts.map(_.max).reduce(_ max _), sum / n)
      }
    session.repo.spark.createDataFrame(
      java.util.Collections.singletonList(row), SliceStatsSchema)
  }

  private def sliceStatsSpark(session: Session, path: String,
      node: graft.meta.NodeSpec, dtype: String, compression: String,
      clipped: Seq[(Long, Long)], chunkBounds: Seq[(Int, Int)]): DataFrame = {
    val refs = session.refsBounded(path, chunkBounds)
    val fetch = sessionFetch(session)
    val spark = refs.sparkSession
    refs
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .withColumn("bytes", fetch(col("kind"), col("inline"), col("chunk_id"),
        col("location"), col("offset"), col("length")))
      .select(CodecFunctions.chunk_slice_stats(col("bytes"), col("coord"),
        dtype, compression, node.chunkShape,
        clipped.map(_._1), clipped.map(_._2), node.chunkSizesPerDim).as("s"))
      .agg(sum(col("s.n")).as("n"), sum(col("s.sum")).as("sum"),
        min(col("s.min")).as("min"), max(col("s.max")).as("max"))
      .withColumn("avg", col("sum") / col("n"))
  }

  /** Whole-array statistics WITHOUT the row explode: per-chunk native
    * reduction (count/sum/min/max inside [[ChunkStatsExpr]]) + a rollup
    * over chunk rows. Decode-bound, not row-machinery-bound — the scale
    * path for `avg(value)`-style tensor aggregates. NOTE: includes
    * partial-edge-chunk padding cells for arrays whose shape is not
    * chunk-aligned (exact on aligned arrays).
    */
  def arrayStats(session: Session, path: String, dtype: String,
                 compression: String = "raw"): DataFrame = {
    val fetch = sessionFetch(session)
    val spark = session.repo.spark
    session.refs(path)
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .withColumn("bytes", fetch(col("kind"), col("inline"), col("chunk_id"),
        col("location"), col("offset"), col("length")))
      .select(CodecFunctions.chunk_stats(col("bytes"), dtype, compression)
        .as("s"))
      .agg(sum(col("s.n")).as("n"), sum(col("s.sum")).as("sum"),
        min(col("s.min")).as("min"), max(col("s.max")).as("max"))
      .withColumn("avg", col("sum") / col("n"))
  }

  /** Append a (i0..iN, value) DataFrame along one dimension
    * (`append_dim`, xarray.py:253-276): grows the array shape by the
    * incoming extent along `dim`, shifts the incoming indices to start at
    * the old boundary, and writes. Regular grids require the EXISTING
    * length to be chunk-aligned on `dim` (the aligned-write check of
    * xarray.py:277-298). Rectilinear grids are aligned by construction:
    * the append extends the dim's chunk-length table — explicitly via
    * `appendChunkSizes` (must tile the appended extent), else repeating
    * the last chunk length with a remainder tail.
    */
  def appendValues(session: Session, path: String, values: DataFrame,
                   dim: Int, dtype: String,
                   compression: String = "raw",
                   appendChunkSizes: Seq[Long] = Nil): Unit = {
    val node = session.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path"))
    val oldLen = node.shape(dim)
    val maxRow = values.agg(max(col(s"i$dim"))).head()
    if (maxRow.isNullAt(0)) {
      // empty incoming batch (an upstream filter dropped everything):
      // appending nothing is a no-op, not an opaque NPE
      require(appendChunkSizes.isEmpty,
        "appendValues: explicit appendChunkSizes with an EMPTY values " +
          "input — nothing to append")
      return
    }
    val extent = maxRow.getLong(0) + 1
    val newShape = node.shape.updated(dim, oldLen + extent)
    if (node.isRectilinear) {
      // a rect grid is chunk-aligned by construction (the size table
      // tiles the shape exactly) — append extends the table along `dim`.
      // New chunk sizes: explicit from the caller, else repeat the last
      // existing size with a remainder tail (stays rect-exact).
      val newSizes: Seq[Long] =
        if (appendChunkSizes.nonEmpty) {
          require(appendChunkSizes.forall(_ > 0) &&
            appendChunkSizes.sum == extent,
            s"append chunk sizes ${appendChunkSizes.mkString(",")} do " +
              s"not tile the appended extent $extent")
          appendChunkSizes
        } else {
          val c = node.chunkSizesPerDim(dim).last
          val full = extent / c
          val rem = extent % c
          Seq.fill(full.toInt)(c) ++ (if (rem > 0) Seq(rem) else Nil)
        }
      session.updateArrayRectilinear(path, newShape,
        node.chunkSizesPerDim.updated(dim,
          node.chunkSizesPerDim(dim) ++ newSizes))
    } else {
      require(appendChunkSizes.isEmpty,
        "appendChunkSizes only applies to rectilinear grids")
      if (oldLen % node.chunkShape(dim) != 0) throw new GraftException(
        s"cannot append along dim $dim: existing length $oldLen is not " +
          s"chunk-aligned (${node.chunkShape(dim)}) — the tail chunk is ragged")
      session.updateArray(path, newShape, node.chunkShape)
    }
    val shifted = values.withColumn(s"i$dim", col(s"i$dim") + oldLen)
    writeValues(session, path, shifted, dtype, compression)
  }

  /** Write a (i0..iN, value) DataFrame into a rectangular region starting
    * at `offsets` (region writes, xarray.py:215-216). The region must be
    * chunk-aligned: offsets on chunk boundaries, so no read-modify-write
    * of neighboring data is needed (the "safe chunk" check of
    * xarray.py:277-298 — unaligned regions are rejected, not silently
    * merged).
    */
  def writeRegion(session: Session, path: String, values: DataFrame,
                  offsets: Seq[Long], dtype: String,
                  compression: String = "raw"): Unit = {
    val node = session.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path"))
    if (node.isRectilinear)
      // rect alignment means the offset IS one of the grid's actual
      // chunk-start offsets (the modulo test has no meaning here) —
      // same rule as the SQL DELETE alignment check
      offsets.zipWithIndex.foreach { case (off, i) =>
        val starts = graft.meta.RectGrid.starts(node.chunkSizesPerDim(i))
        if (java.util.Arrays.binarySearch(starts, off) < 0)
          throw new GraftException(
            s"region offset $off on dim $i is not a chunk start of the " +
              s"rectilinear grid")
      }
    else offsets.zip(node.chunkShape).zipWithIndex.foreach {
      case ((off, chunk), i) =>
        if (off % chunk != 0) throw new GraftException(
          s"region offset $off on dim $i is not chunk-aligned ($chunk)")
    }
    val shifted = offsets.zipWithIndex.foldLeft(values) {
      case (df, (off, i)) => df.withColumn(s"i$i", col(s"i$i") + off)
    }
    writeValues(session, path, shifted, dtype, compression)
  }

  /** Write a (i0..iN, value) DataFrame into an array as chunk objects —
    * the distributed value-plane sink. Scale-shaped plan:
    *
    *  1. rows are bucketed to chunks by coordinate arithmetic;
    *  2. `repartition(coord)` + `sortWithinPartitions(coord, pos)` brings
    *     each chunk's cells together '''in cell order''' — the shuffle
    *     moves (coord, pos, value) triples, never materialized chunk
    *     buffers (a 128 MB chunk would be 16 M structs through ONE
    *     aggregation buffer under a collect_list plan);
    *  3. `mapPartitions` streams the sorted run, holding exactly one
    *     chunk array at a time: fill → encode → compress → upload through
    *     the per-executor store client;
    *  4. the resulting refs are '''materialized once''' to a staging
    *     Parquet dataset under the store, then staged on the session —
    *     re-evaluating the changeset (flush, tx log, rebase retries)
    *     re-reads the staging files instead of re-running the upload job
    *     (no duplicate chunk objects, no write amplification).
    *
    * Staging files are deleted on commit/discard ([[Session]]) and swept
    * by GC if a session dies (ops/Maintenance).
    */
  def writeValues(session: Session, path: String, values: DataFrame,
                  dtype: String, compression: String = "raw"): Unit = {
    val node = session.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path"))
    val ndim = node.numChunksPerDim.size
    // (coord, pos) per row: closed-form for regular grids; rectilinear
    // grids (store.rs:1158-1241) resolve the chunk index per dim as
    // "#chunk-starts ≤ i" over the driver-resident literal start table
    // (O(numChunks_d) codegen'd per row — the per-dim chunk counts are
    // by construction driver-sized lists), then offset/extent/strides
    // from the same tables. Rect inputs are pre-clipped to the array
    // shape (the regular path's flush-time bounds filter equivalent).
    val grid = node.numChunksPerDim.map(_.toLong).toArray
    val gridStrides = grid.indices.map(i =>
      grid.drop(i + 1).product)
    val (withChunk, allocCells): (DataFrame, Seq[Int] => Int) =
      if (!node.isRectilinear) {
        val chunkShape = node.chunkShape
        val strides =
          chunkShape.indices.map(i => chunkShape.drop(i + 1).product)
        val cells = chunkShape.product.toInt
        // clip to the array shape BEFORE linearizing (ADVICE r16, high):
        // under the linear chunk ordinal an out-of-shape index can ALIAS
        // onto a different valid chunk (e.g. grid (3,3): per-dim chunk
        // index (0,3) linearizes to 3 = chunk (1,0)), silently writing
        // the value into the wrong chunk. The coord-keyed path relied on
        // the flush bounds filter to drop such rows; the ordinal path
        // must drop them here, mirroring the rectilinear branch.
        val clipped = (0 until ndim).foldLeft(values) { (d, i) =>
          d.filter(col(s"i$i") >= 0 && col(s"i$i") < node.shape(i))
        }
        (clipped
          .withColumn("_cl", (0 until ndim).map(i =>
            expr(s"i$i div ${chunkShape(i)}").cast("long") *
              gridStrides(i)).reduce(_ + _))
          .withColumn("pos", (0 until ndim).map(i =>
            pmod(col(s"i$i"), lit(chunkShape(i))) * strides(i))
            .reduce(_ + _)),
          _ => cells)
      } else {
        val sizes = node.chunkSizesPerDim
        val starts = sizes.map(s => graft.meta.RectGrid.starts(s).toSeq)
        var df = (0 until ndim).foldLeft(values) { (d, i) =>
          d.filter(col(s"i$i") >= 0 && col(s"i$i") < node.shape(i))
        }
        for (i <- 0 until ndim) {
          df = df
            .withColumn(s"_c$i",
              (size(filter(typedLit(starts(i)), s => s <= col(s"i$i")))
                - 1).cast("int"))
            .withColumn(s"_e$i",
              element_at(typedLit(sizes(i)), col(s"_c$i") + 1))
            .withColumn(s"_o$i", col(s"i$i") -
              element_at(typedLit(starts(i)), col(s"_c$i") + 1))
        }
        df = df.withColumn(s"_st${ndim - 1}", lit(1L))
        for (i <- (ndim - 2) to 0 by -1)
          df = df.withColumn(s"_st$i",
            col(s"_st${i + 1}") * col(s"_e${i + 1}"))
        (df
          .withColumn("_cl", (0 until ndim).map(i =>
            col(s"_c$i").cast("long") * gridStrides(i)).reduce(_ + _))
          .withColumn("pos", (0 until ndim)
            .map(i => col(s"_o$i") * col(s"_st$i")).reduce(_ + _)),
          coord => (0 until ndim).map(i => sizes(i)(coord(i))).product.toInt)
      }
    val spark = values.sparkSession
    val parts = spark.sparkContext.defaultParallelism * 2
    // the shuffle/sort key is the LINEAR chunk index (8 bytes/row), not
    // the coord array — same chunk grouping (the mapping is a bijection),
    // identical output; the per-row Seq[Int] allocation through
    // exchange + sort + Dataset decode was the sink's dominant task cost
    encodeStageOrd(session, path,
      withChunk.select(col("_cl"), col("pos"), col("value"))
        .repartition(parts, col("_cl")),
      grid, allocCells, dtype, compression)
  }

  /** Sort + encode + stage tail of the value sink: `keyed` is
    * (_cl, pos, value) rows already CLUSTERED by `_cl` (each chunk's
    * cells wholly inside one partition — writeValues' repartition, or a
    * producer-side exchange the aggregation reused, e.g. [[downsample]]).
    * Sorts within partitions, streams one chunk buffer at a time, stages
    * the refs via the replayable staging Parquet.
    */
  private def encodeStageOrd(session: Session, path: String,
      keyed: DataFrame, grid: Array[Long], allocCells: Seq[Int] => Int,
      dtype: String, compression: String): Unit = {
    val isInt = ChunkCodec.IntDtypes.contains(dtype)
    val spark = keyed.sparkSession
    import spark.implicits._
    val conf = session.repo.store.conf
    val sorted = keyed
      .select(col("_cl"), col("pos"),
        col("value").cast(if (isInt) "long" else "double").as("value"))
      .sortWithinPartitions("_cl", "pos")
      // tuple encoders resolve by field name, not position
      .toDF("_1", "_2", "_3")
    val refsDf =
      (if (isInt)
        sorted.as[(Long, Long, Long)].mapPartitions { it =>
          streamEncodeOrd[Long](it, grid,
            c => new Array[Long](allocCells(c)),
            (arr, p, v) => arr(p) = v,
            arr => ChunkCodec.compress(
              ChunkCodec.encodeLongs(arr, dtype), compression), conf)
        }
      else
        sorted.as[(Long, Long, Double)].mapPartitions { it =>
          streamEncodeOrd[Double](it, grid,
            c => new Array[Double](allocCells(c)),
            (arr, p, v) => arr(p) = v,
            arr => ChunkCodec.compress(
              ChunkCodec.encodeDoubles(arr, dtype), compression), conf)
        }).toDF("coord", "chunk_id", "length")
    // run the upload job exactly once; changeset actions replay from the
    // staging Parquet, not from the side-effecting job
    stageViaParquet(session, path, refsDf)
  }

  /** Fixed-width value histogram with the counting pushed into the chunk
    * kernel ([[ChunkHistogramExpr]]): each chunk contributes one
    * `nbins + 2` count array (underflow + bins over `[lo, hi)` +
    * overflow), the rollup sums `chunks × (nbins+2)` longs — NO row
    * explode, so the cost of the full distribution sketch is one decode
    * pass. Returns `(bin, lo, hi, n)` rows, bin −1 = underflow, `nbins` =
    * overflow, only non-empty bins. Padding caveat of [[arrayStats]]
    * applies on non-chunk-aligned arrays.
    */
  def histogram(session: Session, path: String, dtype: String,
                lo: Double, hi: Double, nbins: Int,
                compression: String = "raw"): DataFrame = {
    val fetch = sessionFetch(session)
    val spark = session.repo.spark
    val width = (hi - lo) / nbins
    session.refs(path)
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .withColumn("bytes", fetch(col("kind"), col("inline"), col("chunk_id"),
        col("location"), col("offset"), col("length")))
      .select(posexplode(CodecFunctions.chunk_histogram(col("bytes"),
        dtype, compression, lo, hi, nbins)))
      .groupBy((col("pos") - 1).cast("long").as("bin"))
      .agg(sum(col("col")).as("n"))
      .filter(col("n") > 0)
      .select(col("bin"),
        when(col("bin") < 0, lit(Double.NegativeInfinity))
          .otherwise(lit(lo) + col("bin") * width).as("lo"),
        when(col("bin") >= nbins, lit(Double.PositiveInfinity))
          .otherwise(lit(lo) + (col("bin") + 1) * width).as("hi"),
        col("n"))
      .orderBy("bin")
  }

  /** Approximate quantiles via two kernel passes and zero row explode:
    * pass 1 = [[arrayStats]] (min/max bound the histogram), pass 2 =
    * [[histogram]] at `nbins` resolution, then linear interpolation
    * inside the target bin on the driver (`nbins + 2` rows). Error is
    * bounded by one bin width, `(max-min)/nbins` — the 100 TB shape for
    * "p50/p99 of a tensor" (decode cost × 2, row cost zero).
    */
  def approxQuantiles(session: Session, path: String, dtype: String,
                      probs: Seq[Double], nbins: Int = 1000,
                      compression: String = "raw"): Seq[Double] = {
    require(probs.forall(p => p >= 0 && p <= 1), s"bad probs $probs")
    val st = arrayStats(session, path, dtype, compression).head()
    val (mn, mx) = (st.getAs[Double]("min"), st.getAs[Double]("max"))
    if (mn == mx) return probs.map(_ => mn)
    // hi is exclusive in the kernel: widen by one ulp so max lands in
    // the top bin instead of overflow
    val hiEx = math.nextUp(mx)
    val width = (hiEx - mn) / nbins
    val bins = histogram(session, path, dtype, mn, hiEx, nbins,
      compression)
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n")))
      .sortBy(_._1)
    val total = bins.map(_._2).sum.toDouble
    probs.map { p =>
      val target = p * total
      var acc = 0.0
      var res = mx
      var found = false
      for ((bin, n) <- bins if !found) {
        if (acc + n >= target && n > 0) {
          val frac = math.max(0.0, (target - acc) / n)
          res = mn + (bin + frac) * width
          found = true
        }
        acc += n
      }
      if (found) math.min(res, mx) else mx
    }
  }

  /** Downsample an array by integer factors into a NEW array — the
    * multiscale-pyramid level builder (zarr's OME-NGFF multiscale
    * convention; climate/imagery overview levels). `mode = "mean"`
    * averages each k₀×…×k_{n-1} block (partial blocks at the edges
    * average what exists); `mode = "stride"` samples every k-th point.
    *
    * Scale shape: the [[DownsampleChunkExpr]] kernel pre-aggregates each
    * source chunk into its destination-space footprint, so rows (and the
    * combine shuffle) scale with the DESTINATION volume — source/∏k —
    * not the source; a source cell never becomes a Spark row. The
    * combine is one groupBy over `(dl, sum, cnt)` partials (map-side
    * combined), and the coarse array lands through the ordinary
    * streamed [[writeValues]] sink in the same session (one commit for
    * level creation + data).
    */
  def downsample(session: Session, srcPath: String, dstPath: String,
                 factors: Seq[Int], srcDtype: String,
                 mode: String = "mean", dstDtype: String = null,
                 dstChunks: Seq[Long] = Nil,
                 compression: String = "raw"): Unit =
    graft.core.Trace.span("downsample", "src" -> srcPath,
      "dst" -> dstPath, "mode" -> mode,
      "factors" -> factors.mkString("x")) { h =>
    // per-phase wall clocks (push/merge discipline): the partial-emitting
    // scan + combine + write all run lazily inside writeValues, so
    // ms_write is the job and ms_plan is metadata — a drifting
    // engine_downsample entry separates plan-time regressions from
    // execution ones straight from the span
    var tPhase = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      h.set(s"ms_$name", (now - tPhase) / 1000000L)
      tPhase = now
    }
    val node = session.node(srcPath).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $srcPath"))
    val shape = node.shape
    val ndim = shape.size
    if (factors.size != ndim || factors.exists(_ < 1))
      throw new GraftException(s"bad factors ${factors.mkString("x")}",
        graft.repo.GraftError.InvalidConfig)
    // mean of ints is fractional: the level defaults to float64 unless
    // the caller picks; stride keeps the source dtype exactly
    val outDtype = Option(dstDtype).getOrElse(
      if (mode == "mean") "float64" else srcDtype)
    val dstShape = shape.zip(factors).map { case (s, k) =>
      (s + k - 1) / k }
    // the pyramid level is a REGULAR grid either way (rect raggedness is
    // a property of how the source was laid out, not of the overview):
    // a rect source's default dest chunk derives from its MEDIAN chunk
    // length — one outlier-huge source chunk must not inflate every
    // destination chunk (memory/skew heuristic only; dstChunks overrides)
    val repChunk = (i: Int) =>
      if (node.isRectilinear) {
        val sorted = node.chunkSizesPerDim(i).sorted
        sorted(sorted.size / 2)
      } else node.chunkShape(i)
    val chunks =
      if (dstChunks.nonEmpty) dstChunks
      else (0 until ndim).map { i =>
        math.max(1L, math.min(repChunk(i) / factors(i), dstShape(i))) }
    requireStoredCompression(node, srcPath, compression)
    session.addArray(dstPath, dstShape, chunks, node.dimNames,
      userData = destUserData(outDtype, compression))
    val rectStarts =
      if (!node.isRectilinear) Nil
      else node.chunkSizesPerDim.map(s =>
        graft.meta.RectGrid.starts(s).toSeq)
    val fetch = sessionFetch(session)
    val spark = session.repo.spark
    val isInt = ChunkCodec.IntDtypes.contains(outDtype)
    val dstStrides = dstShape.indices.map(i =>
      dstShape.drop(i + 1).product)
    // ONE exchange end to end (r17, guide §2.4): the partial rollup and
    // the value sink used to shuffle back to back — groupBy(dl) hashed
    // the 2 M-cell partial relation on the destination CELL, then
    // writeValues re-hashed the aggregated cells on the destination
    // CHUNK. The cell key (dl) and the sink key (_cl = chunk ordinal,
    // pos = offset in chunk) are a bijection, so keying the partials by
    // (_cl, pos) BEFORE one repartition on _cl lets the aggregation
    // reuse that exchange (clustering on _cl ⊆ group keys (_cl, pos))
    // and the sink's sort+encode run in the same stage — the second
    // shuffle disappears. The destination grid is always REGULAR (level
    // chunks come from addArray above), so the closed-form expressions
    // of writeValues' regular branch apply verbatim.
    val dstChunkShape = chunks
    val dstGrid = dstShape.zip(dstChunkShape).map { case (s, c) =>
      (s + c - 1) / c }
    val dstGridStrides = dstGrid.indices.map(i =>
      dstGrid.drop(i + 1).product)
    val dstChunkStrides = dstChunkShape.indices.map(i =>
      dstChunkShape.drop(i + 1).product)
    val valueCol =
      if (mode == "stride") col("s") // cnt is exactly 1 per kept sample
      else col("s") / col("c")
    val keyed = session.refs(srcPath)
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .withColumn("bytes", fetch(col("kind"), col("inline"),
        col("chunk_id"), col("location"), col("offset"), col("length")))
      .select(explode(CodecFunctions.downsample_chunk(col("bytes"),
        col("coord"), srcDtype, compression, node.chunkShape, shape,
        factors, mode, rectStarts,
        if (node.isRectilinear) node.chunkSizesPerDim else Nil)).as("p"))
      .select((0 until ndim).map(i =>
          pmod(expr(s"p.dl div ${dstStrides(i)}"), lit(dstShape(i)))
            .as(s"i$i")) ++
        Seq(col("p.sum").as("s0"), col("p.cnt").as("c0")): _*)
      .withColumn("_cl", (0 until ndim).map(i =>
        expr(s"i$i div ${dstChunkShape(i)}").cast("long") *
          dstGridStrides(i)).reduce(_ + _))
      .withColumn("pos", (0 until ndim).map(i =>
        pmod(col(s"i$i"), lit(dstChunkShape(i))) * dstChunkStrides(i))
        .reduce(_ + _))
      .repartition(spark.sparkContext.defaultParallelism * 2, col("_cl"))
      .groupBy("_cl", "pos")
      .agg(sum("s0").as("s"), sum("c0").as("c"))
      .select(col("_cl"), col("pos"),
        valueCol.cast(if (isInt) "long" else "double").as("value"))
    phase("plan")
    encodeStageOrd(session, dstPath, keyed,
      dstGrid.map(_.toLong).toArray,
      _ => dstChunkShape.product.toInt, outDtype, compression)
    phase("write")
  }

  /** Axis permutation (transpose) into a NEW array — numpy's
    * `transpose`/zarr axis reorder as a distributed per-chunk job.
    * `perm(i)` names the SOURCE dim that becomes destination dim `i`.
    *
    * Because the destination chunk grid is the source grid with dims
    * permuted, every destination chunk is exactly ONE source chunk with
    * its buffer re-strided — no fragment relation and NO SHUFFLE at all:
    * the job is a pure map over the ref relation (fetch → re-stride →
    * encode → upload from the executor), and the refs land through the
    * same replayable staging-Parquet contract as [[rechunk]] (flush and
    * rebase retries replay the staged rows; the copy job runs once).
    * At 100 TB this moves each payload byte exactly once, through no
    * exchange. The identity permutation stages the SOURCE refs verbatim
    * — a zero-copy alias (chunk objects shared, GC-safe because both
    * arrays' manifests reference them). Sparse stays sparse: absent
    * source chunks are absent in the destination.
    *
    * Compose with [[rechunk]] for a different destination grid; the
    * one-hop transpose keeps the permuted source grid.
    */
  def transpose(session: Session, srcPath: String, dstPath: String,
                perm: Seq[Int], dtype: String,
                compression: String = "raw"): Unit = {
    val node = session.node(srcPath).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $srcPath"))
    val shape = node.shape
    val ndim = shape.size
    if (perm.sorted != (0 until ndim).toList)
      throw new GraftException(
        s"perm ${perm.mkString(",")} is not a permutation of 0..${ndim - 1}",
        graft.repo.GraftError.InvalidConfig)
    val dstShape = perm.map(shape)
    val dimNames =
      if (node.dimNames.size == ndim) perm.map(node.dimNames) else Nil
    requireStoredCompression(node, srcPath, compression)
    if (node.isRectilinear)
      // rect grid transposes to the permuted chunk-length tables; chunk
      // buffers are exact-extent on both sides so the re-stride uses the
      // per-chunk extents from the tables (no padding on either side)
      session.addArrayRectilinear(dstPath, dstShape,
        perm.map(node.chunkSizesPerDim), dimNames,
        userData = destUserData(dtype, compression))
    else
      session.addArray(dstPath, dstShape, perm.map(node.chunkShape),
        dimNames, userData = destUserData(dtype, compression))
    if (perm == (0 until ndim).toList) {
      session.stageChunkRefs(dstPath, session.refs(srcPath))
      return
    }
    val spark = session.repo.spark
    import spark.implicits._
    val conf = session.repo.store.conf
    val resolver = session.repo.virtualResolver
    val cs = node.chunkShape.toArray
    val rectSizes: Array[Array[Int]] =
      if (!node.isRectilinear) null
      else node.chunkSizesPerDim.map(_.map(_.toInt).toArray).toArray
    val permA = perm.toArray
    val isInt = ChunkCodec.IntDtypes.contains(dtype)
    val rows = session.refs(srcPath)
      // a manifest is a handful of Parquet files — spread the per-chunk
      // decode/re-stride/upload work across the cluster before the map
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .select(col("coord"), col("kind"), col("inline"), col("chunk_id"),
        col("location"), col("offset"), col("length"))
      .as[(Seq[Int], String, Array[Byte], String, String, Long, Long)]
    val refsDf = rows.mapPartitions { it =>
      val store = graft.storage.StoreConf.cached(conf)
      // storage convention: regular-grid buffers are row-major over the
      // FULL chunk shape (short edge buffers pad; readers filter cells
      // beyond the array bounds) — so the re-stride always runs on the
      // full chunk extents, and a padded source cell lands at a
      // destination position that is out of bounds there too.
      // Rectilinear buffers are exact-extent: extents come from the
      // per-dim chunk-length tables at this chunk's coord, no padding.
      it.map { case (coord, kind, inline, chunkId, location, off, len) =>
        val srcExt =
          if (rectSizes == null) cs.map(_.toInt)
          else Array.tabulate(coord.size)(d => rectSizes(d)(coord(d)))
        val cells = srcExt.map(_.toLong).product.toInt
        val raw = ChunkCodec.decompress(
          fetchRef(conf, resolver, kind, inline, chunkId, location, off,
            len, cacheable = false), compression)
        val bytes =
          if (isInt) {
            val src = ChunkCodec.decodeLongs(raw, dtype)
            val padded = if (src.length >= cells) src
              else java.util.Arrays.copyOf(src, cells)
            ChunkCodec.compress(ChunkCodec.encodeLongs(
              permuteLongs(padded, srcExt, permA), dtype), compression)
          } else {
            val src = ChunkCodec.decodeDoubles(raw, dtype)
            val padded = if (src.length >= cells) src
              else java.util.Arrays.copyOf(src, cells)
            ChunkCodec.compress(ChunkCodec.encodeDoubles(
              permuteDoubles(padded, srcExt, permA), dtype), compression)
          }
        val id = graft.core.Ids.toBase32(graft.core.Ids.newObjectId())
        store.putBytes(graft.meta.Layout.chunkKey(id), bytes)
        (permA.toSeq.map(coord(_)), id, bytes.length.toLong)
      }
    }.toDF("coord", "chunk_id", "length")
    // run the copy job exactly once; changeset actions replay from the
    // staging Parquet (flush, tx log, rebase retries)
    stageViaParquet(session, dstPath, refsDf)
  }

  /** Elementwise algebra between two SAME-GRID arrays into a new array —
    * the xarray `a + b` / map-algebra workflow as a distributed chunk job
    * (the reference leaves tensor arithmetic to zarr readers; here it is
    * an engine operator so derived layers version like any other commit).
    *
    * Scale shape: only the two REF relations join (tens of bytes per
    * chunk, full-outer on the chunk coordinate); payload bytes are
    * fetched, combined cell-by-cell, and re-uploaded on the task that
    * owns the output chunk — a 100 TB `a - b` moves each payload byte
    * once and shuffles only metadata. A chunk absent on one side reads
    * as fill (0), matching zarr missing-chunk semantics; chunks absent
    * on BOTH sides stay absent (sparse stays sparse). Refs land through
    * the same replayable staging-Parquet contract as [[rechunk]] /
    * [[transpose]] (rebase retries replay staged rows; the copy job runs
    * once).
    *
    * `op`: add | sub | mul | div | min | max. Integer dtypes compute in
    * long arithmetic except `div`, which always lands float64 (integer
    * ratios are fractional). `sessionB` (default: same session) lets the
    * two sides come from different versions or repositories — e.g.
    * current-branch minus a tagged snapshot.
    */
  def combine(session: Session, pathA: String, pathB: String,
              dstPath: String, op: String, dtype: String,
              sessionB: Session = null, dstDtype: String = null,
              compression: String = "raw"): Unit = {
    val sB = Option(sessionB).getOrElse(session)
    val nA = session.node(pathA).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $pathA"))
    val nB = sB.node(pathB).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $pathB (B side)"))
    if (nA.shape != nB.shape || nA.chunkShape != nB.chunkShape ||
        nA.chunkSizesPerDim != nB.chunkSizesPerDim)
      throw new GraftException(
        s"combine requires identical shape and chunk grid: " +
          s"${nA.shape.mkString("x")}/${nA.chunkShape.mkString("x")}" +
          s"${if (nA.isRectilinear) " (rect)" else ""} vs " +
          s"${nB.shape.mkString("x")}/${nB.chunkShape.mkString("x")}" +
          s"${if (nB.isRectilinear) " (rect)" else ""}",
        graft.repo.GraftError.InvalidConfig)
    val ops = Set("add", "sub", "mul", "div", "min", "max")
    if (!ops.contains(op))
      throw new GraftException(s"unknown combine op '$op' " +
        s"(expected one of ${ops.toSeq.sorted.mkString(", ")})",
        graft.repo.GraftError.InvalidConfig)
    // Both sides decode with the single `dtype` parameter; a side whose
    // stored metadata declares a DIFFERENT dtype would be silently
    // misdecoded (corrupt output, no error) — refuse up front instead.
    Seq((pathA, nA), (pathB, nB)).foreach { case (p, n) =>
      graft.sources.GraftCatalog.dtypeFromUserData(n.userData).foreach {
        stored =>
          if (stored != dtype) throw new GraftException(
            s"combine: $p stores dtype $stored but decode dtype is " +
              s"$dtype — pass the stored dtype (or rewrite the array)",
            graft.repo.GraftError.SchemaMismatch)
      }
    }
    val outDtype = Option(dstDtype).getOrElse(
      if (op == "div") "float64" else dtype)
    val intMath =
      ChunkCodec.IntDtypes.contains(dtype) &&
        ChunkCodec.IntDtypes.contains(outDtype) && op != "div"
    if (!intMath && ChunkCodec.IntDtypes.contains(outDtype))
      throw new GraftException(
        s"combine: fractional results cannot land in $outDtype",
        graft.repo.GraftError.InvalidConfig)
    requireStoredCompression(nA, pathA, compression)
    requireStoredCompression(nB, pathB, compression)
    addLike(session, dstPath, nA, outDtype, compression)
    val spark = session.repo.spark
    import spark.implicits._
    val confA = session.repo.store.conf
    val confB = sB.repo.store.conf
    val resolverA = session.repo.virtualResolver
    val resolverB = sB.repo.virtualResolver
    // decided DRIVER-side (after closure serialization `eq` would compare
    // two fresh deserialized copies): identical backends let the kernel
    // detect same-ref chunk pairs and decode once
    val sameBackend = confA == confB && (resolverA eq resolverB)
    // per-coord chunk volume: constant on regular grids, table lookup on
    // rectilinear ones (the closure captures the driver-sized lists)
    val cellsOf: Seq[Int] => Int =
      if (!nA.isRectilinear) {
        val c = nA.chunkShape.product.toInt; _ => c
      } else {
        val sizes = nA.chunkSizesPerDim
        coord => sizes.indices.map(d => sizes(d)(coord(d))).product.toInt
      }
    def side(s: Session, path: String, tag: String) =
      s.refs(path).select(col("coord"),
        struct(col("kind"), col("inline"), col("chunk_id"),
          col("location"), col("offset"), col("length")).as(tag))
    def flat(tag: String) = Seq(
      coalesce(col(s"$tag.kind"), lit("")).as(s"${tag}_kind"),
      col(s"$tag.inline").as(s"${tag}_inline"),
      coalesce(col(s"$tag.chunk_id"), lit("")).as(s"${tag}_id"),
      coalesce(col(s"$tag.location"), lit("")).as(s"${tag}_loc"),
      coalesce(col(s"$tag.offset"), lit(0L)).as(s"${tag}_off"),
      coalesce(col(s"$tag.length"), lit(0L)).as(s"${tag}_len"))
    val rows = side(session, pathA, "a")
      .join(side(sB, pathB, "b"), Seq("coord"), "full_outer")
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .select(col("coord") +: (flat("a") ++ flat("b")): _*)
      .as[(Seq[Int], String, Array[Byte], String, String, Long, Long,
           String, Array[Byte], String, String, Long, Long)]
    val refsDf = rows.mapPartitions { it =>
      val store = graft.storage.StoreConf.cached(confA)
      // decode one side into a full-chunk-volume buffer; absent → fill 0
      def longsOf(cells: Int, kind: String, inline: Array[Byte],
                  id: String,
                  loc: String, off: Long, len: Long,
                  conf: graft.storage.StoreConf,
                  res: graft.virt.VirtualChunkResolver): Array[Long] =
        if (kind.isEmpty) new Array[Long](cells)
        else {
          val v = ChunkCodec.decodeLongs(ChunkCodec.decompress(
            fetchRef(conf, res, kind, inline, id, loc, off, len,
              cacheable = false), compression), dtype)
          if (v.length >= cells) v else java.util.Arrays.copyOf(v, cells)
        }
      def doublesOf(cells: Int, kind: String, inline: Array[Byte],
                    id: String,
                    loc: String, off: Long, len: Long,
                    conf: graft.storage.StoreConf,
                    res: graft.virt.VirtualChunkResolver): Array[Double] =
        if (kind.isEmpty) new Array[Double](cells)
        else {
          val raw = ChunkCodec.decompress(
            fetchRef(conf, res, kind, inline, id, loc, off, len,
              cacheable = false), compression)
          val v =
            if (ChunkCodec.IntDtypes.contains(dtype))
              ChunkCodec.decodeLongs(raw, dtype).map(_.toDouble)
            else ChunkCodec.decodeDoubles(raw, dtype)
          if (v.length >= cells) v else java.util.Arrays.copyOf(v, cells)
        }
      // per-element dispatch on an int tag, not the op STRING (a string
      // equality per cell was ~6 compares × 134M cells on the 1 GiB
      // combine — guide §1.2 step 2: per-task work after plan shape)
      val opId = op match {
        case "add" => 0; case "sub" => 1; case "mul" => 2; case "div" => 3
        case "min" => 4; case "max" => 5
      }
      it.map { case (coord, ak, ai, aid, aloc, aoff, alen,
                     bk, bi, bid, bloc, boff, blen) =>
        val cells = cellsOf(coord)
        // a ⊕ a / aliased chunks (concat/identity-transpose share chunk
        // objects): both sides resolve to the SAME stored bytes — fetch
        // and decode once, combine the buffer with itself
        val sharedRef = sameBackend && ak == bk && aid == bid &&
          aloc == bloc && aoff == boff && alen == blen &&
          java.util.Arrays.equals(ai, bi)
        val bytes =
          if (intMath) {
            val a = longsOf(cells, ak, ai, aid, aloc, aoff, alen, confA,
              resolverA)
            val b = if (sharedRef) a
              else longsOf(cells, bk, bi, bid, bloc, boff, blen, confB,
                resolverB)
            val out = new Array[Long](cells)
            var i = 0
            while (i < cells) {
              out(i) = (opId: @scala.annotation.switch) match {
                case 0 => a(i) + b(i)
                case 1 => a(i) - b(i)
                case 2 => a(i) * b(i)
                case 4 => math.min(a(i), b(i))
                case _ => math.max(a(i), b(i))
              }
              i += 1
            }
            ChunkCodec.compress(ChunkCodec.encodeLongs(out, outDtype),
              compression)
          } else {
            val a = doublesOf(cells, ak, ai, aid, aloc, aoff, alen, confA,
              resolverA)
            val b = if (sharedRef) a
              else doublesOf(cells, bk, bi, bid, bloc, boff, blen, confB,
                resolverB)
            val out = new Array[Double](cells)
            var i = 0
            while (i < cells) {
              out(i) = (opId: @scala.annotation.switch) match {
                case 0 => a(i) + b(i)
                case 1 => a(i) - b(i)
                case 2 => a(i) * b(i)
                case 3 => a(i) / b(i)
                case 4 => math.min(a(i), b(i))
                case _ => math.max(a(i), b(i))
              }
              i += 1
            }
            ChunkCodec.compress(ChunkCodec.encodeDoubles(out, outDtype),
              compression)
          }
        val id = graft.core.Ids.toBase32(graft.core.Ids.newObjectId())
        store.putBytes(graft.meta.Layout.chunkKey(id), bytes)
        (coord, id, bytes.length.toLong)
      }
    }.toDF("coord", "chunk_id", "length")
    val stagingKey = graft.meta.Layout.stagingPrefix(
      graft.core.Ids.toBase32(graft.core.Ids.newObjectId()))
    refsDf.write.parquet(session.repo.store.uri(stagingKey))
    val refs = spark.read.parquet(session.repo.store.uri(stagingKey))
      .withColumn("kind", lit(ChunkRef.KindRef))
      .withColumn("offset", lit(0L))
    session.trackStaging(stagingKey)
    session.stageChunkRefs(dstPath, refs)
  }

  /** Affine transform of one array into a new array:
    * `value' = value * scale + offset`, cast to `dstDtype` — unit
    * conversion / normalization as a pure per-chunk map (NO shuffle at
    * all: the job maps the ref relation; each payload byte moves once).
    * The identity transform onto the same dtype stages the source refs
    * verbatim — a zero-copy alias, like [[transpose]]'s identity perm.
    * Absent (fill = 0) chunks: with `offset == 0` fill maps to fill, so
    * absent stays absent (sparse stays sparse). With `offset != 0` the
    * fill value itself changes, so every absent coord is materialized as
    * a ref to ONE shared constant chunk (content-addressed: a single
    * object and one metadata row per absent coord, regardless of how
    * sparse the source is — readers hardcode fill 0 and there is no
    * read-time transform to lean on).
    */
  def mapValues(session: Session, srcPath: String, dstPath: String,
                scale: Double, offset: Double, dtype: String,
                dstDtype: String = null,
                compression: String = "raw"): Unit = {
    val node = session.node(srcPath).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $srcPath"))
    val outDtype = Option(dstDtype).getOrElse(
      if (ChunkCodec.IntDtypes.contains(dtype) &&
          scale == math.rint(scale) && offset == math.rint(offset)) dtype
      else "float64")
    requireStoredCompression(node, srcPath, compression)
    if (scale == 1.0 && offset == 0.0 && outDtype == dtype) {
      addLike(session, dstPath, node, outDtype, compression)
      session.stageChunkRefs(dstPath, session.refs(srcPath))
      return
    }
    val intMath = ChunkCodec.IntDtypes.contains(dtype) &&
      ChunkCodec.IntDtypes.contains(outDtype) &&
      scale == math.rint(scale) && offset == math.rint(offset)
    if (!intMath && ChunkCodec.IntDtypes.contains(outDtype))
      throw new GraftException(
        s"mapValues: fractional results cannot land in $outDtype",
        graft.repo.GraftError.InvalidConfig)
    val sL = scale.toLong
    val oL = offset.toLong
    val refsDf = transformChunkRefs(session, srcPath, dtype, outDtype,
      intMath, compression)(
      fLong = v => {
        var i = 0
        while (i < v.length) { v(i) = v(i) * sL + oL; i += 1 }
        v
      },
      fDouble = v => {
        var i = 0
        while (i < v.length) { v(i) = v(i) * scale + offset; i += 1 }
        v
      })
    stageTransformedRefs(session, srcPath, dstPath, node, refsDf,
      fillOut = offset, intMath = intMath, outDtype = outDtype,
      compression = compression)
  }

  /** The shared per-chunk transform scaffolding of [[mapValues]] and
    * [[mapUnary]]: fetch/decompress/decode each ref's payload, run ONE
    * kernel (`fLong` when intMath, else `fDouble`; kernels are selected
    * once, not per cell), re-encode/compress/upload, and return the
    * (coord, chunk_id, length) relation for [[stageTransformedRefs]].
    */
  private def transformChunkRefs(session: Session, srcPath: String,
      dtype: String, outDtype: String, intMath: Boolean,
      compression: String)(
      fLong: Array[Long] => Array[Long],
      fDouble: Array[Double] => Array[Double])
      : org.apache.spark.sql.DataFrame = {
    val spark = session.repo.spark
    import spark.implicits._
    val conf = session.repo.store.conf
    val resolver = session.repo.virtualResolver
    val isIntSrc = ChunkCodec.IntDtypes.contains(dtype)
    session.refs(srcPath)
      .repartition(spark.sparkContext.defaultParallelism * 2, col("coord"))
      .select(col("coord"), col("kind"), col("inline"), col("chunk_id"),
        col("location"), col("offset"), col("length"))
      .as[(Seq[Int], String, Array[Byte], String, String, Long, Long)]
      .mapPartitions { it =>
        val store = graft.storage.StoreConf.cached(conf)
        it.map { case (coord, kind, inline, chunkId, location, off, len) =>
          val raw = ChunkCodec.decompress(
            fetchRef(conf, resolver, kind, inline, chunkId, location,
              off, len, cacheable = false), compression)
          val bytes =
            if (intMath)
              ChunkCodec.compress(ChunkCodec.encodeLongs(
                fLong(ChunkCodec.decodeLongs(raw, dtype)), outDtype),
                compression)
            else {
              val v =
                if (isIntSrc)
                  ChunkCodec.decodeLongs(raw, dtype).map(_.toDouble)
                else ChunkCodec.decodeDoubles(raw, dtype)
              ChunkCodec.compress(
                ChunkCodec.encodeDoubles(fDouble(v), outDtype),
                compression)
            }
          val id = graft.core.Ids.toBase32(graft.core.Ids.newObjectId())
          store.putBytes(graft.meta.Layout.chunkKey(id), bytes)
          (coord, id, bytes.length.toLong)
        }
      }.toDF("coord", "chunk_id", "length")
  }

  /** userData for a transform DESTINATION: dtype plus the codec the
    * payloads are actually encoded with. A dest doc that omits a
    * non-raw codec makes every SQL read (which probes the codec from
    * userData) decode compressed bytes as raw — silent corruption.
    */
  private[graft] def destUserData(dtype: String,
                                  compression: String): String =
    compression match {
      case "raw" | "" | null => s"""{"dtype":"$dtype"}"""
      case c =>
        s"""{"dtype":"$dtype","codecs":[{"name":"bytes",""" +
          s""""configuration":{"endian":"little"}},{"name":"$c"}]}"""
    }

  /** Refuse a stored-codec/decode-codec mismatch up front: decoding
    * zstd bytes as raw — or relabeling them into a destination whose
    * doc says raw — corrupts silently, so every transform that decodes
    * payloads (or carries them verbatim under a new doc) checks its
    * sources here.
    */
  private def requireStoredCompression(node: graft.meta.NodeSpec,
      path: String, compression: String): Unit =
    graft.sources.GraftCatalog.compressionFromUserData(node.userData)
      .foreach { stored =>
        if (stored != compression) throw new GraftException(
          s"$path stores compression $stored but decode compression " +
            s"is $compression — pass the stored codec",
          graft.repo.GraftError.SchemaMismatch)
      }

  /** Create `dstPath` with `node`'s exact grid (regular or rectilinear)
    * and the given output dtype + codec — the dst-creation step every
    * per-chunk transform shares.
    */
  private def addLike(session: Session, dstPath: String,
                      node: graft.meta.NodeSpec, outDtype: String,
                      compression: String): Unit =
    if (node.isRectilinear)
      session.addArrayRectilinear(dstPath, node.shape,
        node.chunkSizesPerDim, node.dimNames,
        userData = destUserData(outDtype, compression))
    else
      session.addArray(dstPath, node.shape, node.chunkShape, node.dimNames,
        userData = destUserData(outDtype, compression))

  /** How many distinct chunk volumes the fill-materialization path will
    * tolerate before refusing (one constant blob is uploaded per volume).
    */
  private val MaxDistinctCellCounts = 256

  /** Distinct chunk CELL COUNTS of a grid: one for a regular grid, the
    * deduped cross product of per-dim distinct chunk lengths for a
    * rectilinear one. The cross product short-circuits as soon as it
    * exceeds [[MaxDistinctCellCounts]] — a degenerate every-size-distinct
    * grid must trip the caller's refusal, not build the blowup the
    * refusal exists to prevent — so a result larger than the cap is
    * intentionally INCOMPLETE (only its size is meaningful).
    */
  private def distinctCellCounts(node: graft.meta.NodeSpec): Seq[Long] =
    if (!node.isRectilinear) Seq(node.chunkShape.product)
    else node.chunkSizesPerDim.map(_.distinct)
      .foldLeft(Seq(1L)) { (acc, ds) =>
        if (acc.size > MaxDistinctCellCounts) acc
        else {
          val out = scala.collection.mutable.LinkedHashSet.empty[Long]
          val it = for (a <- acc.iterator; s <- ds.iterator) yield a * s
          while (it.hasNext && out.size <= MaxDistinctCellCounts) out += it.next()
          out.toSeq
        }
      }

  /** Refuse a grid whose fill materialization would need more than
    * [[MaxDistinctCellCounts]] constant blobs. Fires only when absent
    * chunks actually need fill (a fully dense degenerate grid transforms
    * fine), and BEFORE the destination array is staged (addLike runs
    * after the fill plan in [[stageTransformedRefs]]), so a refusal
    * leaves no half-created dst in the session changeset.
    */
  private def requireFillableGrid(node: graft.meta.NodeSpec,
                                  path: String): Unit =
    if (distinctCellCounts(node).size > MaxDistinctCellCounts)
      throw new GraftException(
        s"$path: fill materialization needs more than " +
          s"$MaxDistinctCellCounts distinct chunk volumes — rechunk to " +
          "a regular grid first",
        graft.repo.GraftError.InvalidConfig)

  /** Stage a per-chunk-transformed ref relation for `dstPath`. When the
    * transform maps the fill value 0 to `fillOut != 0`, absent source
    * coords must READ `fillOut` in the destination, so they materialize
    * as refs to shared constant chunks (content-addressed: one object
    * per chunk volume the ABSENT coords actually need, one metadata row
    * per absent coord; a fully-dense source adds no rows because the
    * anti-join is empty). Shared by [[mapValues]] and [[mapUnary]].
    */
  private def stageTransformedRefs(session: Session, srcPath: String,
      dstPath: String, node: graft.meta.NodeSpec,
      refsDf: org.apache.spark.sql.DataFrame, fillOut: Double,
      intMath: Boolean, outDtype: String, compression: String): Unit = {
    val spark = session.repo.spark
    var absentCache: Option[org.apache.spark.sql.DataFrame] = None
    val withFill =
      if (fillOut == 0.0) refsDf
      else {
        val gridDims = node.numChunksPerDim
        val strides = gridDims.indices.map(d =>
          gridDims.drop(d + 1).map(_.toLong).product)
        val coordExpr = array(gridDims.indices.map(d =>
          expr(s"cast((id div ${strides(d)}) % ${gridDims(d)} as int)")): _*)
        // persist: the emptiness check and the staging write would
        // otherwise each run the full O(grid) anti-join
        val absent = spark.range(gridDims.map(_.toLong).product)
          .select(coordExpr.as("coord"))
          .join(session.refs(srcPath).select(col("coord")),
            Seq("coord"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        absentCache = Some(absent)
        if (absent.isEmpty) refsDf
        else {
          // one shared constant chunk PER DISTINCT CELL COUNT the ABSENT
          // coords actually use (regular: exactly one; rect: collected
          // from the persisted absent relation — bounded by the
          // MaxDistinctCellCounts refusal, and a grid volume no absent
          // chunk needs uploads no blob). Degenerate grids were refused
          // by requireFillableGrid in the caller, before any staging;
          // the re-check here is defense in depth.
          requireFillableGrid(node, srcPath)
          val sizes = node.chunkSizesPerDim
          def cellsExpr = sizes.indices.map(d =>
            element_at(typedLit(sizes(d)),
              element_at(col("coord"), d + 1) + 1)).reduce(_ * _)
          val neededCounts: Seq[Long] =
            if (!node.isRectilinear) Seq(node.chunkShape.product)
            else absent.withColumn("_cells", cellsExpr)
              .select("_cells").distinct()
              .collect().map(_.getLong(0)).toSeq
          val constByCells: Map[Long, (String, Long)] =
            neededCounts.map { c =>
              val bytes =
                if (intMath)
                  ChunkCodec.compress(ChunkCodec.encodeLongs(
                    Array.fill(c.toInt)(fillOut.toLong), outDtype),
                    compression)
                else
                  ChunkCodec.compress(ChunkCodec.encodeDoubles(
                    Array.fill(c.toInt)(fillOut), outDtype), compression)
              val id = graft.core.Ids.toBase32(graft.core.Ids.newObjectId())
              session.repo.store.putBytes(
                graft.meta.Layout.chunkKey(id), bytes)
              c -> (id, bytes.length.toLong)
            }.toMap
          if (!node.isRectilinear) {
            val (constId, constLen) = constByCells(neededCounts.head)
            refsDf.union(absent.select(col("coord"),
              lit(constId).as("chunk_id"), lit(constLen).as("length")))
          } else {
            // per-coord chunk volume from the literal size tables, then
            // a broadcast map to the matching constant chunk
            import spark.implicits._
            val constDf = broadcast(constByCells.toSeq
              .map { case (c, (id, len)) => (c, id, len) }
              .toDF("_cells", "chunk_id", "length"))
            refsDf.union(absent
              .withColumn("_cells", cellsExpr)
              .join(constDf, Seq("_cells"))
              .select(col("coord"), col("chunk_id"), col("length")))
          }
        }
      }
    // create the destination only AFTER every refusal above has had its
    // chance to fire — a refused transform must not leave a half-created
    // dst array in the session changeset
    addLike(session, dstPath, node, outDtype, compression)
    val stagingKey = graft.meta.Layout.stagingPrefix(
      graft.core.Ids.toBase32(graft.core.Ids.newObjectId()))
    withFill.write.parquet(session.repo.store.uri(stagingKey))
    absentCache.foreach(_.unpersist(blocking = false))
    val refs = spark.read.parquet(session.repo.store.uri(stagingKey))
      .withColumn("kind", lit(ChunkRef.KindRef))
      .withColumn("offset", lit(0L))
    session.trackStaging(stagingKey)
    session.stageChunkRefs(dstPath, refs)
  }

  /** Unary elementwise math into a new array: op ∈ `abs` | `square` |
    * `sqrt` | `clip` (clamps to [lo, hi]) — the remaining member of the
    * map-algebra family next to [[mapValues]] (affine) and [[combine]]
    * (binary). Pure per-chunk map: the job maps the ref relation, each
    * payload byte moves once, NO shuffle. Integer sources compute in
    * long arithmetic for abs/clip/square and WIDEN to int64 on output
    * (a narrow dtype would silently wrap — abs(Byte.MinValue), squares,
    * out-of-range clip bounds; int64 squares that overflow int64 remain
    * the caller's contract, as for any int64 product); `sqrt` always
    * lands float64 (negatives produce NaN, like numpy — no silent
    * masking). `lo`/`hi` are CLIP-only and refused elsewhere; NaN
    * bounds are refused. Fill semantics: the op's image of 0
    * (abs/square/sqrt → 0; clip → min(max(0, lo), hi)) decides
    * sparsity — a nonzero image materializes absent coords as ONE
    * shared constant chunk, exactly like mapValues' offset path.
    */
  def mapUnary(session: Session, srcPath: String, dstPath: String,
               op: String, dtype: String,
               lo: Double = Double.NegativeInfinity,
               hi: Double = Double.PositiveInfinity,
               compression: String = "raw"): Unit = {
    val ops = Set("abs", "square", "sqrt", "clip")
    if (!ops.contains(op)) throw new GraftException(
      s"unknown mapUnary op '$op' " +
        s"(expected one of ${ops.toSeq.sorted.mkString(", ")})",
      graft.repo.GraftError.InvalidConfig)
    if (op == "clip") {
      if (lo.isNaN || hi.isNaN || lo > hi) throw new GraftException(
        s"clip: invalid bounds [$lo, $hi]",
        graft.repo.GraftError.InvalidConfig)
    } else if (!lo.isNegInfinity || !hi.isPosInfinity)
      throw new GraftException(
        s"mapUnary: lo/hi apply to 'clip' only (op '$op' would " +
          "silently ignore them)", graft.repo.GraftError.InvalidConfig)
    val node = session.node(srcPath).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $srcPath"))
    val isInt = ChunkCodec.IntDtypes.contains(dtype)
    val intMath = isInt && op != "sqrt" &&
      (op != "clip" ||
        ((lo == math.rint(lo) || lo.isNegInfinity) &&
          (hi == math.rint(hi) || hi.isPosInfinity)))
    // integer results widen to int64: narrow outputs would silently
    // wrap (encodeLongs truncates to the target width)
    val outDtype =
      if (op == "sqrt") "float64" else if (intMath) "int64" else "float64"
    val fillOut = op match {
      case "clip" => math.min(math.max(0.0, lo), hi)
      case _ => 0.0
    }
    requireStoredCompression(node, srcPath, compression)
    val loL = if (lo.isNegInfinity) Long.MinValue else lo.toLong
    val hiL = if (hi.isPosInfinity) Long.MaxValue else hi.toLong
    // kernel selected ONCE (per-cell string dispatch would pay a
    // String.equals per element inside the hot loop)
    val fLong: Array[Long] => Array[Long] = op match {
      case "abs" => v => {
        var i = 0; while (i < v.length) { v(i) = math.abs(v(i)); i += 1 }
        v
      }
      case "square" => v => {
        var i = 0; while (i < v.length) { v(i) = v(i) * v(i); i += 1 }
        v
      }
      case _ => v => { // clip
        var i = 0
        while (i < v.length) {
          v(i) = math.min(math.max(v(i), loL), hiL); i += 1
        }
        v
      }
    }
    val fDouble: Array[Double] => Array[Double] = op match {
      case "abs" => v => {
        var i = 0; while (i < v.length) { v(i) = math.abs(v(i)); i += 1 }
        v
      }
      case "square" => v => {
        var i = 0; while (i < v.length) { v(i) = v(i) * v(i); i += 1 }
        v
      }
      case "sqrt" => v => {
        var i = 0; while (i < v.length) { v(i) = math.sqrt(v(i)); i += 1 }
        v
      }
      case _ => v => { // clip
        var i = 0
        while (i < v.length) {
          v(i) = math.min(math.max(v(i), lo), hi); i += 1
        }
        v
      }
    }
    val refsDf = transformChunkRefs(session, srcPath, dtype, outDtype,
      intMath, compression)(fLong, fDouble)
    stageTransformedRefs(session, srcPath, dstPath, node, refsDf,
      fillOut = fillOut, intMath = intMath, outDtype = outDtype,
      compression = compression)
  }

  /** ZERO-COPY concatenation of arrays along one axis into a new array —
    * the xarray `concat` / virtual-dataset workflow, done the way a
    * content-addressed store should: no payload moves at all. Every
    * source's chunk refs are staged into the destination with the axis
    * coordinate shifted by the cumulative chunk count, so the new array
    * SHARES the sources' chunk objects (GC-safe: both manifests
    * reference them). Concatenating 100 TB costs one metadata pass.
    *
    * Grid rules:
    *   - aligned regular sources (same chunk shape, every source but
    *     the last a multiple of the axis chunk) → regular destination,
    *     pure relabel;
    *   - anything else (rect sources, unaligned regular sources) → a
    *     RECTILINEAR destination whose axis chunk-length table is the
    *     sources' tables laid end to end — still pure relabeling, except
    *     that a ragged regular source's dim-0 tail chunks are
    *     prefix-truncated from the padded to the exact-extent layout
    *     (one small re-encode per tail chunk).
    *
    * Refused (kind `invalid_config` — an honest refusal beats a silent
    * multi-TB rewrite; `rechunk` the offender first): rank/off-axis
    * extent disagreement, off-axis chunk-table disagreement, or a
    * regular source ragged along an INNER dim (its padded buffers
    * cannot be relabeled into exact-extent rect strides).
    */
  /** Run a chunk-upload job's output through a staging Parquet and stage
    * the refs from the RECORDED rows: changeset actions (flush, tx log,
    * rebase retries) replay from the Parquet, so the side-effecting
    * upload job runs exactly once. `refsDf` carries
    * `(coord, chunk_id, length)`; kind/offset are constants here.
    * The ONE replay contract shared by [[writeValues]], [[transpose]]
    * and [[concat]].
    */
  private def stageViaParquet(session: Session, dstPath: String,
                              refsDf: DataFrame): Unit = {
    val spark = refsDf.sparkSession
    val stagingKey = graft.meta.Layout.stagingPrefix(
      graft.core.Ids.toBase32(graft.core.Ids.newObjectId()))
    refsDf.write.parquet(session.repo.store.uri(stagingKey))
    session.trackStaging(stagingKey)
    session.stageChunkRefs(dstPath,
      spark.read.parquet(session.repo.store.uri(stagingKey))
        .withColumn("kind", lit(ChunkRef.KindRef))
        .withColumn("offset", lit(0L)))
  }

  def concat(session: Session, srcPaths: Seq[String], dstPath: String,
             axis: Int, dtype: String,
             compression: String = "raw"): Unit = {
    require(srcPaths.nonEmpty, "concat: no sources")
    val nodes = srcPaths.map(p => session.node(p).filter(_.isArray)
      .getOrElse(throw new GraftException(s"no array at $p")))
    // a source whose stored metadata declares a DIFFERENT dtype would be
    // silently misdecoded by the truncation path (and mislabeled in the
    // destination's metadata either way) — refuse up front, the same
    // guard combine() carries
    nodes.zip(srcPaths).foreach { case (n, p) =>
      graft.sources.GraftCatalog.dtypeFromUserData(n.userData).foreach {
        stored =>
          if (stored != dtype) throw new GraftException(
            s"concat: $p stores dtype $stored but decode dtype is " +
              s"$dtype — pass the stored dtype",
            graft.repo.GraftError.SchemaMismatch)
      }
      // EVERY source, not just truncated ones: pure relabeling carries
      // the stored bytes verbatim into a destination whose doc records
      // `compression` — a mismatch mislabels them for every later read
      requireStoredCompression(n, p, compression)
    }
    val head = nodes.head
    val ndim = head.shape.size
    if (axis < 0 || axis >= ndim)
      throw new GraftException(s"axis $axis out of range for rank $ndim",
        graft.repo.GraftError.InvalidConfig)
    nodes.foreach { n =>
      val sameOffAxis = n.shape.indices.forall(i =>
        i == axis || n.shape(i) == head.shape(i))
      if (n.shape.size != ndim || !sameOffAxis)
        throw new GraftException(
          s"concat sources disagree off-axis (${head.path} vs ${n.path})",
          graft.repo.GraftError.InvalidConfig)
    }
    val allRegular = nodes.forall(n =>
      !n.isRectilinear && n.chunkShape == head.chunkShape)
    val regularAligned = allRegular && {
      val c = head.chunkShape(axis)
      nodes.dropRight(1).forall(_.shape(axis) % c == 0)
    }
    if (regularAligned) {
      // aligned regular sources keep a regular destination grid: pure
      // chunk relabeling, padded-tail convention preserved end to end
      val c = head.chunkShape(axis)
      val dstShape = head.shape.indices.map(i =>
        if (i == axis) nodes.map(_.shape(axis)).sum else head.shape(i))
      session.addArray(dstPath, dstShape, head.chunkShape, head.dimNames,
        userData = destUserData(dtype, compression))
      var offsetChunks = 0L
      nodes.zip(srcPaths).foreach { case (n, p) =>
        val off = offsetChunks
        val shifted = session.refs(p).withColumn("coord",
          transform(col("coord"), (v, i) =>
            when(i === axis, v + lit(off).cast("int")).otherwise(v)))
        session.stageChunkRefs(dstPath, shifted)
        offsetChunks += (n.shape(axis) + c - 1) / c
      }
      return
    }
    // Unaligned or rectilinear sources: the destination becomes a
    // RECTILINEAR grid whose axis chunk-length table is the sources'
    // tables laid end to end — still pure ref relabeling, no payload
    // movement (the regular path would demand a rechunk here). The one
    // layout subtlety: REGULAR tail chunks are stored PADDED to the full
    // chunk shape, while rect readers use exact-extent strides. A
    // dim-0-only ragged regular source stays stride-compatible except
    // for the byte count, so its dim-0 tail chunks are prefix-TRUNCATED
    // to exact extent (one decompress+cut+recompress per tail chunk);
    // raggedness in any inner dim would need a full re-stride — refused,
    // rechunk first.
    nodes.foreach { n =>
      if (!n.isRectilinear)
        (1 until ndim).foreach { d =>
          if (n.shape(d) % n.chunkShape(d) != 0) throw new GraftException(
            s"concat to a rectilinear grid: ${n.path} is ragged along " +
              s"inner dim $d (stored buffers are padded there) — " +
              "rechunk it first",
            graft.repo.GraftError.InvalidConfig)
        }
    }
    // off-axis chunking must agree EXACTLY (chunk-length tables equal);
    // tables computed once per (node, dim) — effectiveChunkSizes
    // materializes a chunk-count-sized Seq per call
    val headSizes = IndexedSeq.tabulate(ndim)(head.effectiveChunkSizes)
    val axisSizes = nodes.map(_.effectiveChunkSizes(axis))
    nodes.foreach { n =>
      (0 until ndim).foreach { d =>
        if (d != axis && (n ne head) &&
            n.effectiveChunkSizes(d) != headSizes(d))
          throw new GraftException(
            s"concat sources disagree on dim-$d chunking " +
              s"(${head.path} vs ${n.path}) — rechunk first",
            graft.repo.GraftError.InvalidConfig)
      }
    }
    val dstShape = head.shape.indices.map(i =>
      if (i == axis) nodes.map(_.shape(axis)).sum else head.shape(i))
    val dstSizes = (0 until ndim).map { d =>
      if (d == axis) axisSizes.flatten
      else headSizes(d)
    }
    session.addArrayRectilinear(dstPath, dstShape, dstSizes,
      head.dimNames, userData = destUserData(dtype, compression))
    val spark = session.repo.spark
    val conf = session.repo.store.conf
    val resolver = session.repo.virtualResolver
    var offsetChunks = 0L
    nodes.zip(srcPaths).zipWithIndex.foreach { case ((n, p), idx) =>
      val off = offsetChunks
      val relabeled = session.refs(p).withColumn("coord",
        transform(col("coord"), (v, i) =>
          when(i === axis, v + lit(off).cast("int")).otherwise(v)))
      // dim-0 tail chunks of a ragged regular source carry pad cells —
      // truncate those to exact extent; everything else relabels as-is
      val ragged0 = !n.isRectilinear && n.shape(0) % n.chunkShape(0) != 0
      if (!ragged0) session.stageChunkRefs(dstPath, relabeled)
      else {
        // the truncation path DECODES payload bytes — a stored
        // compression different from the decode parameter would cut
        // compressed bytes at a raw offset (corrupt output, no error)
        graft.sources.GraftCatalog.compressionFromUserData(n.userData)
          .foreach { stored =>
            if (stored != compression) throw new GraftException(
              s"concat: $p stores compression $stored but decode " +
                s"compression is $compression — pass the stored codec",
              graft.repo.GraftError.SchemaMismatch)
          }
        import spark.implicits._
        // `relabeled` coords are shifted by `off` on the concat axis —
        // when that axis IS dim 0, the tail's dim-0 index shifts with it
        val srcTail = n.shape(0) / n.chunkShape(0) // floor = tail index
        val tailC0 = if (axis == 0) srcTail + off else srcTail
        val exactCells = (n.shape(0) % n.chunkShape(0)) *
          (1 until ndim).map(n.chunkShape(_)).product
        // width resolved only where bytes are actually cut: pure-relabel
        // concat of an adopted array with an exotic dtype stays legal
        val exactBytes = exactCells * ChunkCodec.dtypeWidth(dtype)
        session.stageChunkRefs(dstPath,
          relabeled.filter(element_at(col("coord"), 1) =!= tailC0))
        val tail = relabeled.filter(element_at(col("coord"), 1) === tailC0)
          .select(col("coord"), col("kind"), col("inline"), col("chunk_id"),
            col("location"), col("offset"), col("length"))
          .as[(Seq[Int], String, Array[Byte], String, String, Long, Long)]
        val cut = tail.mapPartitions { it =>
          val store = graft.storage.StoreConf.cached(conf)
          it.map { case (coord, kind, inline, chunkId, location, o, l) =>
            val raw = ChunkCodec.decompress(
              fetchRef(conf, resolver, kind, inline, chunkId, location,
                o, l, cacheable = false), compression)
            val bytes = ChunkCodec.compress(
              java.util.Arrays.copyOf(raw, exactBytes.toInt), compression)
            val id = graft.core.Ids.toBase32(graft.core.Ids.newObjectId())
            store.putBytes(graft.meta.Layout.chunkKey(id), bytes)
            (coord, id, bytes.length.toLong)
          }
        }.toDF("coord", "chunk_id", "length")
        stageViaParquet(session, dstPath, cut)
      }
      offsetChunks += axisSizes(idx).size
    }
  }

  /** Re-stride a row-major buffer of extents `srcExt` so destination dim
    * `i` walks source dim `perm(i)`. The innermost destination loop reads
    * the source at a fixed stride — sequential writes, strided reads (the
    * cache-friendlier orientation for the common outer-dim swap).
    */
  private[graft] def permuteLongs(src: Array[Long], srcExt: Array[Int],
                                  perm: Array[Int]): Array[Long] = {
    val ndim = srcExt.length
    val srcStride = new Array[Long](ndim)
    srcStride(ndim - 1) = 1
    var k = ndim - 2
    while (k >= 0) { srcStride(k) = srcStride(k + 1) * srcExt(k + 1); k -= 1 }
    val dstExt = Array.tabulate(ndim)(i => srcExt(perm(i)))
    val sStride = Array.tabulate(ndim)(i => srcStride(perm(i)))
    val n = src.length
    val out = new Array[Long](n)
    val idx = new Array[Int](ndim)
    val inner = dstExt(ndim - 1)
    val innerStride = sStride(ndim - 1)
    var d = 0
    while (d < n) {
      var base = 0L
      var j = 0
      while (j < ndim - 1) { base += idx(j).toLong * sStride(j); j += 1 }
      var t = 0
      var so = base
      while (t < inner) { out(d + t) = src(so.toInt); so += innerStride; t += 1 }
      d += inner
      var c = ndim - 2
      while (c >= 0) {
        idx(c) += 1
        if (idx(c) < dstExt(c)) c = -1 else { idx(c) = 0; c -= 1 }
      }
    }
    out
  }

  private[graft] def permuteDoubles(src: Array[Double], srcExt: Array[Int],
                                    perm: Array[Int]): Array[Double] = {
    val ndim = srcExt.length
    val srcStride = new Array[Long](ndim)
    srcStride(ndim - 1) = 1
    var k = ndim - 2
    while (k >= 0) { srcStride(k) = srcStride(k + 1) * srcExt(k + 1); k -= 1 }
    val dstExt = Array.tabulate(ndim)(i => srcExt(perm(i)))
    val sStride = Array.tabulate(ndim)(i => srcStride(perm(i)))
    val n = src.length
    val out = new Array[Double](n)
    val idx = new Array[Int](ndim)
    val inner = dstExt(ndim - 1)
    val innerStride = sStride(ndim - 1)
    var d = 0
    while (d < n) {
      var base = 0L
      var j = 0
      while (j < ndim - 1) { base += idx(j).toLong * sStride(j); j += 1 }
      var t = 0
      var so = base
      while (t < inner) { out(d + t) = src(so.toInt); so += innerStride; t += 1 }
      d += inner
      var c = ndim - 2
      while (c >= 0) {
        idx(c) += 1
        if (idx(c) < dstExt(c)) c = -1 else { idx(c) = 0; c -= 1 }
      }
    }
    out
  }

  /** Rechunk a regular-grid array onto a new chunk shape as a distributed
    * block-copy job — the missing zarr-ecosystem workflow (the reference
    * stores whatever grid the writer chose; changing it is an external
    * "rechunker" pipeline). Spark-first scale shape:
    *
    *  1. the ref relation maps each SOURCE chunk to the destination
    *     chunks it overlaps — pure per-dim arithmetic exploded from the
    *     coord column, so the only thing that ever SHUFFLES is this
    *     (src, dst) coordinate relation: tens of bytes per chunk.
    *     Payload bytes move via object-store reads on the destination's
    *     task, never through a Spark shuffle (contrast: rechunk-by-
    *     `values()`+`writeValues` would shuffle every CELL — 100 TB
    *     through the exchange);
    *  2. `repartition(dst)` + sort brings each destination chunk's
    *     fragments together, neighbors adjacent — a per-task decoded-
    *     source LRU (byte-budgeted) plus the per-executor chunk-byte LRU
    *     make a source shared by several destinations decode ~once;
    *  3. each destination chunk is assembled with row-major
    *     `System.arraycopy` runs, encoded, and uploaded from the
    *     executor; refs land in a staging Parquet dataset that
    *     flush/rebase replay (same idempotence contract as
    *     [[writeValues]]);
    *  4. [[Session.rechunkArray]] swaps the chunk grid and the whole ref
    *     relation atomically in the changeset (rewritten-node semantics).
    *
    * Absent source chunks stay absent: a destination chunk all of whose
    * sources are missing is simply not written (fill semantics), so
    * rechunking a sparse array stays sparse along chunk-aligned holes.
    *
    * Rectilinear SOURCES are accepted — the target grid is always
    * regular, so this is also the one-way conversion out of the
    * rectilinear feature subset (region reads, values writes, SQL
    * tables, and diffs all require a regular grid).
    */
  def rechunk(session: Session, path: String, newChunks: Seq[Long],
              dtype: String, compression: String = "raw"): Unit =
    graft.core.Trace.span("rechunk", "path" -> path,
      "chunks" -> newChunks.mkString("x")) { h =>
    // per-phase wall clocks (push/merge discipline): ms_copy is the
    // staged assemble+upload job (the payload movement), ms_swap the
    // atomic grid/ref swap in the changeset — a drifting
    // engine_rechunk entry names its phase from the span alone
    var tPhase = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      h.set(s"ms_$name", (now - tPhase) / 1000000L)
      tPhase = now
    }
    val node = session.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path"))
    requireStoredCompression(node, path, compression)
    val shape = node.shape
    val ndim = shape.size
    if (newChunks.size != ndim || newChunks.exists(_ <= 0))
      throw new GraftException(
        s"bad target chunk shape ${newChunks.mkString("x")} for " +
          s"rank-$ndim $path", graft.repo.GraftError.InvalidConfig)
    // `return` inside the span closure would surface as
    // NonLocalReturnControl and read as a failed span — test and skip
    // instead (already on that grid = nothing to do)
    if (node.isRectilinear || newChunks != node.chunkShape) {
    graft.core.ArrayShape.regular(shape, newChunks) // validate up front
    val dstCells = newChunks.product.toInt
    val isInt = ChunkCodec.IntDtypes.contains(dtype)
    val spark = session.repo.spark
    import spark.implicits._
    val conf = session.repo.store.conf
    val resolver = session.repo.virtualResolver

    // per-source-chunk geometry (global start + stored-buffer extent per
    // dim): closed-form for regular grids, per-dim prefix-sum tables for
    // rectilinear ones (already driver-materialized in the node spec)
    val srcGeom: Seq[Int] => (Array[Long], Array[Long]) =
      if (!node.isRectilinear) {
        val cs = node.chunkShape.toArray
        c => (Array.tabulate(ndim)(i => c(i).toLong * cs(i)), cs)
      } else {
        val sizes = node.chunkSizesPerDim.map(_.toArray)
        val starts = sizes.map(s => graft.meta.RectGrid.starts(s).toSeq)
        c => (Array.tabulate(ndim)(i => starts(i)(c(i))),
          Array.tabulate(ndim)(i => sizes(i)(c(i))))
      }
    val maxSrcCells =
      if (!node.isRectilinear) node.chunkShape.product
      else node.chunkSizesPerDim.map(_.max).product

    val (dstA, shpA) = (newChunks.toArray, shape.toArray)
    // concurrent tasks per JVM, for the executor-side LRU byte budget
    val slots = spark.conf.getOption("spark.executor.cores")
      .flatMap(c => scala.util.Try(c.toInt).toOption)
      .getOrElse(spark.sparkContext.defaultParallelism)
    // one assemble pipeline for either partitioning route below
    type Frag = (Seq[Int], Seq[Int], String, Array[Byte], String, String,
      Long, Long)
    val assemble: Iterator[Frag] => Iterator[(Seq[Int], String, Long)] =
      if (isInt)
        it => assembleChunks[Long](it, srcGeom, maxSrcCells, slots, dstA,
          shpA,
          () => new Array[Long](dstCells),
          raw => ChunkCodec.decodeLongs(
            ChunkCodec.decompress(raw, compression), dtype),
          (a, n) => if (a.length >= n) a
            else java.util.Arrays.copyOf(a, n), // short edge chunk
          arr => ChunkCodec.compress(
            ChunkCodec.encodeLongs(arr, dtype), compression),
          conf, resolver)
      else
        it => assembleChunks[Double](it, srcGeom, maxSrcCells, slots, dstA,
          shpA,
          () => new Array[Double](dstCells),
          raw => ChunkCodec.decodeDoubles(
            ChunkCodec.decompress(raw, compression), dtype),
          (a, n) => if (a.length >= n) a
            else java.util.Arrays.copyOf(a, n),
          arr => ChunkCodec.compress(
            ChunkCodec.encodeDoubles(arr, dtype), compression),
          conf, resolver)

    // Fragment partitioning (r17, guide §2): the destination linear index
    // is dense with a driver-known extent, so a bounded fragment relation
    // (metadata-sized — coords + ref metadata, never payloads) collects
    // ONCE and partitions driver-side into contiguous, _dl-aligned,
    // count-balanced slices — skipping repartitionByRange's sampling pass
    // (which re-evaluated the whole manifest-scan+explode relation) AND
    // the shuffle itself. Past the bound, the Spark range-partitioned
    // shape runs unchanged (the 100 TB route; PlanCheckSpec pins its
    // plan: one range exchange, no join).
    val headCap = RechunkDriverMaxFragments
    val head = rechunkFragmentsBase(session, path, newChunks)
      .limit(headCap + 1)
      .toDF("_dl", "_1", "_2", "_3", "_4", "_5", "_6", "_7", "_8")
      .as[(Long, Seq[Int], Seq[Int], String, Array[Byte], String, String,
        Long, Long)]
      .collect()
    phase("plan")
    val refsDf =
      if (head.length <= headCap) {
        import scala.math.Ordering.Implicits._
        val rows = head.sortBy(r => (r._1, r._3.toIndexedSeq: Seq[Int]))
        val parts = spark.sparkContext.defaultParallelism * 2
        val target = math.max(1, (rows.length + parts - 1) / parts)
        val slices = scala.collection.mutable.ArrayBuffer[Vector[Frag]]()
        val cur = scala.collection.mutable.ArrayBuffer[Frag]()
        var i = 0
        while (i < rows.length) {
          val dl = rows(i)._1
          while (i < rows.length && rows(i)._1 == dl) { // whole dst group
            val r = rows(i)
            cur += ((r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9))
            i += 1
          }
          if (cur.length >= target) { slices += cur.toVector; cur.clear() }
        }
        if (cur.nonEmpty) slices += cur.toVector
        val rdd = spark.sparkContext
          .parallelize(slices.toSeq, math.max(1, slices.size))
          .mapPartitions(it => assemble(it.flatMap(_.iterator)))
        spark.createDataset(rdd).toDF("coord", "chunk_id", "length")
      } else
        rechunkFragments(session, path, newChunks)
          .toDF("_1", "_2", "_3", "_4", "_5", "_6", "_7", "_8")
          .as[(Seq[Int], Seq[Int], String, Array[Byte], String, String,
            Long, Long)]
          .mapPartitions(assemble)
          .toDF("coord", "chunk_id", "length")

    // run the copy job exactly once; changeset actions replay from the
    // staging Parquet (flush, tx log, rebase retries)
    val stagingKey = graft.meta.Layout.stagingPrefix(
      graft.core.Ids.toBase32(graft.core.Ids.newObjectId()))
    refsDf.write.parquet(session.repo.store.uri(stagingKey))
    phase("copy")
    val refs = spark.read.parquet(session.repo.store.uri(stagingKey))
      .withColumn("kind", lit(ChunkRef.KindRef))
      .withColumn("offset", lit(0L))
    session.trackStaging(stagingKey)
    session.rechunkArray(path, newChunks, refs)
    phase("swap")
    } // end not-already-on-grid
  }

  /** The rechunk job's shuffled relation, exposed for plan guards:
    * (dst, src, kind, inline, chunk_id, location, offset, length) rows,
    * range-partitioned and sorted by the destination's row-major linear
    * index. This is the ONLY thing the job shuffles — coordinate pairs
    * and ref metadata, never payloads.
    *
    * RANGE-partitioned, not hash: destination chunks sharing source
    * chunks are neighbors in linear order, so ranging puts a source's
    * consumers in the SAME task, where the decoded-source LRU makes the
    * source fetch+decode once. Hash partitioning scattered them — each
    * 8 MB source was fetched and decoded once per consumer (~4x memory
    * traffic, and the measured wall time with it: warm 1 GiB regrid
    * 8.4 s hashed vs 4.3 s ranged).
    */
  private def rechunkFragmentsBase(session: Session, path: String,
                                   newChunks: Seq[Long]): DataFrame = {
    val node = session.node(path).filter(_.isArray).getOrElse(
      throw new GraftException(s"no array at $path"))
    val shape = node.shape
    val ndim = shape.size
    val spark = session.repo.spark
    // source ref -> overlapping destination coords (inclusive ranges
    // per dim; `div` keeps the arithmetic integral end to end). For
    // rectilinear sources the per-dim destination ranges ship as literal
    // lookup tables (the chunk-size lists are already driver-resident on
    // the node spec; a rectilinear dim's chunk count is by construction
    // a driver-sized list)
    var fr = session.refs(path).select(col("coord"), col("kind"),
      col("inline"), col("chunk_id"), col("location"), col("offset"),
      col("length"))
    for (i <- 0 until ndim) {
      val ds = newChunks(i); val sh = shape(i)
      if (!node.isRectilinear) {
        val cs = node.chunkShape(i)
        fr = fr.withColumn(s"_d$i", explode(sequence(
          expr(s"int((element_at(coord, ${i + 1}) * ${cs}L) div $ds)"),
          expr(s"int((least(element_at(coord, ${i + 1}) * ${cs}L + $cs, " +
            s"${sh}L) - 1) div $ds)"))))
      } else {
        val sizes = node.chunkSizesPerDim(i)
        val starts = graft.meta.RectGrid.starts(sizes).toSeq
        val lo = starts.map(st => (st / ds).toInt)
        val hi = starts.zip(sizes).map { case (st, ex) =>
          ((math.min(st + ex, sh) - 1) / ds).toInt }
        fr = fr.withColumn(s"_d$i", explode(sequence(
          element_at(typedLit(lo), element_at(col("coord"), i + 1) + 1),
          element_at(typedLit(hi), element_at(col("coord"), i + 1) + 1))))
      }
    }
    // destination grid extents, for the row-major linear index
    val dstGrid = shape.zip(newChunks).map { case (s, c) => (s + c - 1) / c }
    val dlExpr = (0 until ndim).map(i =>
        s"_d$i * ${dstGrid.drop(i + 1).product}L").mkString(" + ")
    fr
      .withColumn("dst", array((0 until ndim).map(i => col(s"_d$i")): _*))
      .withColumn("_dl", expr(dlExpr))
      .select(col("_dl"), col("dst"), col("coord").as("src"), col("kind"),
        col("inline"), col("chunk_id"), col("location"), col("offset"),
        col("length"))
  }

  /** [[rechunkFragmentsBase]] range-partitioned and sorted by the
    * destination linear index — the Spark-shuffled fallback shape (see
    * [[rechunk]]'s driver route for when it is skipped).
    */
  private[graft] def rechunkFragments(session: Session, path: String,
                                      newChunks: Seq[Long]): DataFrame = {
    val spark = session.repo.spark
    val parts = spark.sparkContext.defaultParallelism * 2
    rechunkFragmentsBase(session, path, newChunks)
      .repartitionByRange(parts, col("_dl"))
      .sortWithinPartitions("_dl", "src")
      .drop("_dl")
  }

  /** Assemble destination chunks from a (dst, src, ref...) run sorted by
    * dst: fetch + decode each source once per miss (decoded LRU),
    * block-copy the overlap, upload, emit (coord, chunk_id,
    * encodedLength).
    *
    * Memory discipline (the source of run-to-run bench variance on
    * small-heap runners): the per-task decoded-source LRU budget adapts
    * to the EXECUTING JVM — `min(64 MB, heap / (8 × task slots))`,
    * floor 8 MB — so 32 concurrent tasks cannot pin 2 GiB of decoded
    * sources on a heap sized for less; and the destination buffer is
    * allocated ONCE per task and reset by arraycopy from a fill
    * template, instead of allocating a fresh multi-MB (G1-humongous)
    * array per destination chunk.
    */
  private[graft] def assembleChunks[V](
      it: Iterator[(Seq[Int], Seq[Int], String, Array[Byte], String,
        String, Long, Long)],
      srcGeom: Seq[Int] => (Array[Long], Array[Long]),
      maxSrcCells: Long, taskSlots: Int,
      dstChunks: Array[Long], shape: Array[Long],
      alloc: () => Array[V],
      decode: Array[Byte] => Array[V],
      pad: (Array[V], Int) => Array[V],
      encode: Array[V] => Array[Byte],
      conf: graft.storage.StoreConf,
      resolver: graft.virt.VirtualChunkResolver)
      : Iterator[(Seq[Int], String, Long)] = {
    val store = graft.storage.StoreConf.cached(conf)
    // slots = concurrent tasks in THIS JVM (driver passes executor.cores
    // or local parallelism — availableProcessors would be machine cores,
    // which on a big host running few slots would collapse the budget
    // and reintroduce per-destination source re-decode thrash)
    val lruBudget = math.max(8L << 20, math.min(64L << 20,
      Runtime.getRuntime.maxMemory() / (8L * math.max(1, taskSlots))))
    val capacity = math.max(1L,
      lruBudget / math.max(1L, maxSrcCells * 8L)).toInt
    val lru = new java.util.LinkedHashMap[Seq[Int], Array[V]](16, 0.75f,
      true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[Int], Array[V]]): Boolean =
        size() > capacity
    }
    // one reusable destination buffer per task: reset via arraycopy from
    // the fill template (memcpy-speed, zero per-chunk allocation)
    val template = alloc()
    val arr = template.clone()
    val buf = it.buffered
    new Iterator[(Seq[Int], String, Long)] {
      override def hasNext: Boolean = buf.hasNext
      override def next(): (Seq[Int], String, Long) = {
        val dst = buf.head._1
        System.arraycopy(template, 0, arr, 0, arr.length)
        while (buf.hasNext && buf.head._1 == dst) {
          val (_, src, kind, inline, chunkId, location, offset, length) =
            buf.next()
          val (srcStart, srcExt) = srcGeom(src)
          var decoded = lru.get(src)
          if (decoded == null) {
            // bulk-scan contract (cacheable=false): range partitioning
            // already co-locates a source's consumers, so the shared
            // byte cache would only add a clone per fetch and evict the
            // hot point-lookup entries it exists for
            val raw = fetchRef(conf, resolver, kind, inline, chunkId,
              location, offset, length, cacheable = false)
            decoded = pad(decode(raw), srcExt.product.toInt)
            lru.put(src, decoded)
          }
          copyBlock(decoded, arr, srcStart, srcExt, dst.toArray,
            dstChunks, shape)
        }
        val bytes = encode(arr)
        val id = graft.core.Ids.toBase32(graft.core.Ids.newObjectId())
        store.putBytes(graft.meta.Layout.chunkKey(id), bytes)
        (dst, id, bytes.length.toLong)
      }
    }
  }

  /** Copy the overlap of a source chunk (global start `srcStart`,
    * row-major buffer extents `srcExt`) and destination chunk `dstCoord`
    * as contiguous innermost-dim runs via `System.arraycopy` — no
    * per-element work, no boxing (the arrays stay primitive; this method
    * only ever passes them whole). Geometry-parameterized so regular and
    * rectilinear source grids share one kernel.
    */
  private[graft] def copyBlock(src: AnyRef, dst: AnyRef,
                               srcStart: Array[Long], srcExt: Array[Long],
                               dstCoord: Array[Int],
                               dstChunks: Array[Long],
                               shape: Array[Long]): Unit = {
    val ndim = srcExt.length
    val lo = new Array[Long](ndim); val hi = new Array[Long](ndim)
    var i = 0
    while (i < ndim) {
      lo(i) = math.max(srcStart(i), dstCoord(i).toLong * dstChunks(i))
      hi(i) = math.min(math.min(srcStart(i) + srcExt(i),
        (dstCoord(i) + 1L) * dstChunks(i)), shape(i))
      if (hi(i) <= lo(i)) return // disjoint (possible on clipped dims)
      i += 1
    }
    val srcStride = new Array[Long](ndim)
    val dstStride = new Array[Long](ndim)
    srcStride(ndim - 1) = 1; dstStride(ndim - 1) = 1
    var k = ndim - 2
    while (k >= 0) {
      srcStride(k) = srcStride(k + 1) * srcExt(k + 1)
      dstStride(k) = dstStride(k + 1) * dstChunks(k + 1)
      k -= 1
    }
    val run = (hi(ndim - 1) - lo(ndim - 1)).toInt
    val g = lo.clone()
    var done = false
    while (!done) {
      var so = 0L; var dofs = 0L
      var j = 0
      while (j < ndim) {
        val gj = if (j == ndim - 1) lo(j) else g(j)
        so += (gj - srcStart(j)) * srcStride(j)
        dofs += (gj - dstCoord(j).toLong * dstChunks(j)) * dstStride(j)
        j += 1
      }
      System.arraycopy(src, so.toInt, dst, dofs.toInt, run)
      if (ndim == 1) done = true
      else {
        var d = ndim - 2
        var carry = true
        while (carry && d >= 0) {
          g(d) += 1
          if (g(d) < hi(d)) carry = false else { g(d) = lo(d); d -= 1 }
        }
        if (carry) done = true
      }
    }
  }

  /** [[streamEncode]] keyed by the row-major LINEAR chunk index instead
    * of the coord array: the value sink's shuffle/sort/decode then moves
    * 8 bytes per row where the array form allocated a boxed Seq[Int] per
    * value cell (guide §2.3: narrower types; r16 — the per-row coord
    * materialization was the dominant task cost of the 16.7M-cell value
    * writes). Coords re-derive once per CHUNK, not per row.
    */
  private[graft] def streamEncodeOrd[V](it: Iterator[(Long, Long, V)],
                              grid: Array[Long],
                              alloc: Seq[Int] => Array[V],
                              set: (Array[V], Int, V) => Unit,
                              encode: Array[V] => Array[Byte],
                              conf: graft.storage.StoreConf)
      : Iterator[(Seq[Int], String, Long)] = {
    val store = graft.storage.StoreConf.cached(conf)
    val nd = grid.length
    val strides = new Array[Long](nd)
    strides(nd - 1) = 1
    var k = nd - 2
    while (k >= 0) { strides(k) = strides(k + 1) * grid(k + 1); k -= 1 }
    def coordOf(cl: Long): Seq[Int] = {
      var r = cl
      val c = new Array[Int](nd)
      var i = 0
      while (i < nd) { c(i) = (r / strides(i)).toInt; r %= strides(i); i += 1 }
      c.toIndexedSeq
    }
    val buf = it.buffered
    new Iterator[(Seq[Int], String, Long)] {
      override def hasNext: Boolean = buf.hasNext
      override def next(): (Seq[Int], String, Long) = {
        val cl = buf.head._1
        val coord = coordOf(cl)
        val arr = alloc(coord)
        while (buf.hasNext && buf.head._1 == cl) {
          val (_, pos, v) = buf.next()
          set(arr, pos.toInt, v)
        }
        val bytes = encode(arr)
        val id = graft.core.Ids.toBase32(graft.core.Ids.newObjectId())
        store.putBytes(graft.meta.Layout.chunkKey(id), bytes)
        (coord, id, bytes.length.toLong)
      }
    }
  }

  /** Stream one sorted (coord, pos, value) run: assemble, encode, and
    * upload chunk-at-a-time; emits (coord, chunk_id, encodedLength).
    */
  private[graft] def streamEncode[V](it: Iterator[(Seq[Int], Long, V)],
                              alloc: Seq[Int] => Array[V],
                              set: (Array[V], Int, V) => Unit,
                              encode: Array[V] => Array[Byte],
                              conf: graft.storage.StoreConf)
      : Iterator[(Seq[Int], String, Long)] = {
    val store = graft.storage.StoreConf.cached(conf)
    val buf = it.buffered
    new Iterator[(Seq[Int], String, Long)] {
      override def hasNext: Boolean = buf.hasNext
      override def next(): (Seq[Int], String, Long) = {
        val coord = buf.head._1
        val arr = alloc(coord)
        while (buf.hasNext && buf.head._1 == coord) {
          val (_, pos, v) = buf.next()
          set(arr, pos.toInt, v)
        }
        val bytes = encode(arr)
        val id = graft.core.Ids.toBase32(graft.core.Ids.newObjectId())
        store.putBytes(graft.meta.Layout.chunkKey(id), bytes)
        (coord, id, bytes.length.toLong)
      }
    }
  }
}
