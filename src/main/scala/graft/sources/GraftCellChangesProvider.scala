package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.repo.{Repository, VersionRef}
import graft.storage.Store
import graft.tensor.TensorPlane.{paddedDoubles, paddedLongs}

/** `spark.readStream.format("graft-cell-changes")` — CELL-level CDC as a
  * Structured Streaming SOURCE: each micro-batch carries exactly the
  * cells of one array that changed in the commits the batch covers, as
  * `(i0..iN, old_value, new_value, snapshot_id, seq)`. The streaming
  * face of [[graft.streaming.ChangesFeed.pollValues]] / the engine's
  * `valueDiff`, for "re-embed only what changed" consumers that want
  * checkpointed offsets instead of a poll loop.
  *
  * Offsets are ancestry depth (append-only ⇒ monotone), the same cursor
  * as the commit feed. Partition planning joins only the two REF
  * relations and collects the CHANGED pairs (CDC working set — bounded
  * by the change, not the array; a poll against a 100 TB array that
  * gained one chunk plans one pair). Payload fetch + cell diff run on
  * executors; one-sided chunks read as fill (0), NaN-safe equality.
  *
  * Options: store options (`path` etc.), `array` (node path), `dtype`,
  * optional `branch` (main), `compression` (raw), `startingOffset`
  * (earliest|latest), `pairsPerPartition` (64).
  */
class GraftCellChangesProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cell-changes"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCellChangesProvider.schemaFor(options.asScala.toMap)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftCellChangesTable(properties.asScala.toMap)
}

object GraftCellChangesProvider {
  def open(opts: Map[String, String]): (Repository, String, String) = {
    val spark = org.apache.spark.sql.SparkSession.active
    val repo = Repository.open(Store.fromOptions(opts), spark,
      resolver = graft.virt.VirtualChunkResolver.fromOptions(opts))
    (repo, opts.getOrElse("branch", "main"),
      opts.getOrElse("array",
        throw new graft.repo.GraftException(
          "graft-cell-changes requires an 'array' option")))
  }

  def schemaFor(opts: Map[String, String]): StructType = {
    val (repo, branch, path) = open(opts)
    val node = repo.readonlySession(VersionRef.Branch(branch))
      .node(path).filter(_.isArray).getOrElse(
        throw new graft.repo.GraftException(s"no array at $path"))
    val dtype = opts.getOrElse("dtype",
      GraftCatalog.dtypeFromUserData(node.userData).getOrElse(
        throw new graft.repo.GraftException(
          s"pass a 'dtype' option or store one in $path's metadata")))
    val vt: DataType =
      if (graft.functions.ChunkCodec.IntDtypes.contains(dtype)) LongType
      else DoubleType
    StructType(
      node.shape.indices.map(i =>
        StructField(s"i$i", LongType, nullable = false)) ++ Seq(
        StructField("old_value", vt),
        StructField("new_value", vt),
        StructField("snapshot_id", StringType),
        StructField("seq", LongType)))
  }
}

class GraftCellChangesTable(opts: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-cell-changes:${opts.getOrElse("array", "?")}" +
      s"@${opts.getOrElse("branch", "main")}"
  override def schema(): StructType =
    GraftCellChangesProvider.schemaFor(opts)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftCellChangesScan(opts, schema())
}

class GraftCellChangesScan(opts: Map[String, String], schema: StructType)
    extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftCellChangesScan(${opts.getOrElse("array", "?")})"
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = new GraftCellChangesStream(opts, schema)
}

/** One bundle of changed chunk-ref pairs; flat fields keep it
  * Java-serializable without Spark encoders.
  */
case class CellChangesPartition(
    pairs: Array[(Seq[Int], String, Array[Byte], String, String, Long,
      Long, String, Array[Byte], String, String, Long, Long)],
    conf: graft.storage.StoreConf,
    resolver: graft.virt.VirtualChunkResolver,
    dtype: String, compression: String,
    shape: Seq[Long], chunkShape: Seq[Long],
    snapshotId: String, seq: Long) extends InputPartition

class GraftCellChangesStream(opts: Map[String, String], schema: StructType)
    extends MicroBatchStream {
  private lazy val (repo, branch, path) = GraftCellChangesProvider.open(opts)

  private def depthNow: Long =
    repo.ancestry(VersionRef.Branch(branch)).length.toLong

  override def initialOffset(): Offset =
    opts.getOrElse("startingOffset", "earliest") match {
      case "earliest" => DepthOffset(0L)
      case "latest" => DepthOffset(depthNow)
      case other => throw new graft.repo.GraftException(
        s"startingOffset must be earliest|latest, got '$other'")
    }
  override def latestOffset(): Offset = DepthOffset(depthNow)
  override def deserializeOffset(json: String): Offset =
    DepthOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DepthOffset].depth
    val e = end.asInstanceOf[DepthOffset].depth
    if (e <= s) return Array.empty
    val chain = repo.ancestry(VersionRef.Branch(branch)) // newest first
    val len = chain.length.toLong
    if (e > len) throw new graft.repo.GraftException(
      s"cell-change offset $e exceeds branch depth $len — history was " +
        "rewritten (expire/reset); restart the stream to re-baseline")
    val newSnap = chain((len - e).toInt)
    val newSess = repo.readonlySession(VersionRef.SnapshotVer(newSnap.id))
    val node = newSess.node(path).filter(_.isArray).getOrElse(
      return Array.empty) // array not created yet in this range
    val dtype = opts.getOrElse("dtype",
      GraftCatalog.dtypeFromUserData(node.userData).getOrElse("int64"))
    import org.apache.spark.sql.functions._
    // only the ref relations join; the collect is the CHANGED pair set
    val changed = (if (s == 0) {
      // baseline: every chunk present at `e` is "new vs nothing"
      newSess.refs(path).select(col("coord"),
        lit(null).cast("string").as("o_kind"),
        lit(null).cast("binary").as("o_inline"),
        lit(null).cast("string").as("o_id"),
        lit(null).cast("string").as("o_loc"),
        lit(0L).as("o_off"), lit(0L).as("o_len"),
        col("kind").as("n_kind"), col("inline").as("n_inline"),
        col("chunk_id").as("n_id"), col("location").as("n_loc"),
        col("offset").as("n_off"), col("length").as("n_len"))
    } else {
      val oldSnap = chain((len - s).toInt)
      val oldSess = repo.readonlySession(VersionRef.SnapshotVer(oldSnap.id))
      graft.tensor.TensorPlane.changedChunkRefs(oldSess, newSess, path)
        .select(col("coord"),
          col("o.kind").as("o_kind"), col("o.inline").as("o_inline"),
          col("o.chunk_id").as("o_id"), col("o.location").as("o_loc"),
          coalesce(col("o.offset"), lit(0L)).as("o_off"),
          coalesce(col("o.length"), lit(0L)).as("o_len"),
          col("n.kind").as("n_kind"), col("n.inline").as("n_inline"),
          col("n.chunk_id").as("n_id"), col("n.location").as("n_loc"),
          coalesce(col("n.offset"), lit(0L)).as("n_off"),
          coalesce(col("n.length"), lit(0L)).as("n_len"))
    }).collect().map { r =>
      (r.getSeq[Int](0),
        Option(r.getString(1)).getOrElse(""), r.getAs[Array[Byte]](2),
        Option(r.getString(3)).getOrElse(""),
        Option(r.getString(4)).getOrElse(""),
        r.getLong(5), r.getLong(6),
        Option(r.getString(7)).getOrElse(""), r.getAs[Array[Byte]](8),
        Option(r.getString(9)).getOrElse(""),
        Option(r.getString(10)).getOrElse(""),
        r.getLong(11), r.getLong(12))
    }
    val per = opts.getOrElse("pairsPerPartition", "64").toInt
    changed.grouped(per).map(g => CellChangesPartition(g.toArray,
      repo.store.conf, repo.virtualResolver, dtype,
      opts.getOrElse("compression", "raw"), node.shape, node.chunkShape,
      newSnap.id, e): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[InternalRow] =
        new CellChangesPartitionReader(
          p.asInstanceOf[CellChangesPartition])
    }
}

/** Fetches each pair's payloads, decodes, and emits differing cells with
  * global indices — fill (0) for one-sided chunks, padded edge cells
  * skipped via the array bounds.
  */
class CellChangesPartitionReader(part: CellChangesPartition)
    extends PartitionReader[InternalRow] {
  private val intMath =
    graft.functions.ChunkCodec.IntDtypes.contains(part.dtype)
  private val cells = part.chunkShape.product.toInt
  private val strides = part.chunkShape.indices.map(i =>
    part.chunkShape.drop(i + 1).product)
  private var pi = 0
  private var rows: Iterator[InternalRow] = Iterator.empty

  private def fetch(kind: String, inline: Array[Byte], id: String,
                    loc: String, off: Long, len: Long): Array[Byte] =
    if (kind.isEmpty) null
    else graft.tensor.TensorPlane.fetchRef(part.conf, part.resolver,
      kind, inline, id, loc, off, len, cacheable = false)

  private def rowsOf(pair: (Seq[Int], String, Array[Byte], String, String,
      Long, Long, String, Array[Byte], String, String, Long,
      Long)): Iterator[InternalRow] = {
    val (coord, ok, oi, oid, oloc, ooff, olen,
      nk, ni, nid, nloc, noff, nlen) = pair
    val oRaw = fetch(ok, oi, oid, oloc, ooff, olen)
    val nRaw = fetch(nk, ni, nid, nloc, noff, nlen)
    val ndim = part.shape.size
    def emit(pos: Int, ov: Any, nv: Any): Option[InternalRow] = {
      val idx = new Array[Any](ndim + 4)
      var d = 0
      var inBounds = true
      while (d < ndim) {
        val g = coord(d).toLong * part.chunkShape(d) +
          (pos / strides(d)) % part.chunkShape(d)
        if (g >= part.shape(d)) inBounds = false
        idx(d) = g
        d += 1
      }
      if (!inBounds) None
      else {
        idx(ndim) = ov; idx(ndim + 1) = nv
        idx(ndim + 2) = UTF8String.fromString(part.snapshotId)
        idx(ndim + 3) = part.seq
        Some(new GenericInternalRow(idx))
      }
    }
    if (intMath) {
      val o = paddedLongs(oRaw, cells, part.dtype, part.compression)
      val n = paddedLongs(nRaw, cells, part.dtype, part.compression)
      (0 until cells).iterator.flatMap { p =>
        if (o(p) == n(p)) None else emit(p, o(p), n(p))
      }
    } else {
      val o = paddedDoubles(oRaw, cells, part.dtype, part.compression)
      val n = paddedDoubles(nRaw, cells, part.dtype, part.compression)
      (0 until cells).iterator.flatMap { p =>
        // NaN-safe: NaN == NaN counts as unchanged (valueDiff's <=>)
        if (java.lang.Double.compare(o(p), n(p)) == 0) None
        else emit(p, o(p), n(p))
      }
    }
  }

  private var cur: InternalRow = _
  override def next(): Boolean = {
    while (!rows.hasNext && pi < part.pairs.length) {
      rows = rowsOf(part.pairs(pi)); pi += 1
    }
    if (rows.hasNext) { cur = rows.next(); true } else false
  }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
