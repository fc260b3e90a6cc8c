package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ChunkCodec
import graft.functions.SliceGeom
import graft.repo.{Repository, VersionRef}
import graft.storage.{Store, StoreConf}

/** DataSource V2 connector (`format("graft-v2")`, or its short name
  * `format("graft")` through [[GraftSource]]).
  *
  * '''Read''', two modes:
  *  - `mode=refs` (default): the chunk-ref relation. One `InputPartition`
  *    per referenced (manifest, node, split) — the natural parallelism
  *    unit of the storage layout — pruned at plan time by pushed
  *    `c0..cN` bounds against split extents (`ManifestExtents`,
  *    manifest.rs:66-69).
  *  - `mode=values` (+ `dtype`, optional `compression`): the decoded
  *    value relation (i0..iN, value) — the reference's whole read surface
  *    (chunk-to-array dispatch, session.rs:1274-1317), executed
  *    scan-native: pushed `i0..iN` bounds prune splits at plan time AND
  *    bound the in-chunk sub-block decode ([[SliceGeom]]) on executors,
  *    so a slice never decodes cells outside the region.
  *
  * Executors read manifest Parquet with parquet-mr directly (no Spark
  * session) and fetch chunk bytes through the per-JVM cached store client
  * — both work on any backend (`file:` or `graft://`→S3) because
  * partitions carry the serializable [[StoreConf]] + Hadoop conf entries.
  *
  * '''Write''' (`mode=refs`): the distributed stage-refs-then-CAS-commit
  * pattern (the fork/merge collapse of SURVEY §3.3; reference
  * `store_dask`, dask.py:61-150): each task writes its ref rows as one
  * Parquet object under `staging/` via parquet-mr, the driver reads the
  * staged dataset, stages it on a session, and runs ONE CAS commit. Refs
  * never pass through the driver.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-v2"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTableProvider.schemaFor(options.asScala.toMap)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap
    new GraftTable(opts, schema)
  }
}

/** `format("graft")`: the same connector under its short name. */
class GraftSource extends GraftTableProvider {
  override def shortName(): String = "graft"
}

object GraftTableProvider {
  /** Metadata column exposed by values-mode tables: the chunk's
    * linearized ordinal in the chunk grid (row-major over
    * `ceil(shape/chunkShape)`). It is the GROUP ID for row-level
    * operations — Spark's runtime group filter computes
    * `DISTINCT _chunk_ord WHERE <condition>` and hands the set back to
    * the scan, which then fetches/decodes only the affected chunks.
    */
  val ChunkOrdCol = "_chunk_ord"

  /** The `_chunk_ord` metadata column definition. Not preserved on
    * update/delete rewrites — the writer re-derives chunk membership
    * from the index columns, so carrying it through the shuffle would
    * be 8 wasted bytes per cell.
    */
  object ChunkOrdMetaCol
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    import org.apache.spark.sql.connector.catalog.{MetadataColumn => MC}
    override def name(): String = ChunkOrdCol
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "linearized chunk-grid ordinal (row-level operation group id)"
    override def metadataInJSON(): String =
      s"""{"${MC.PRESERVE_ON_UPDATE}": false, "${MC.PRESERVE_ON_DELETE}": false}"""
  }

  /** Row-major strides over the chunk GRID (`ceil(shape/chunk)` per dim):
    * `ord(coord) = Σ coord(d) * gridStrides(d)`.
    */
  private[sources] def gridStrides(shape: Seq[Long],
                                   chunk: Seq[Long]): Array[Long] =
    gridStridesOf(shape.indices.map(d =>
      (shape(d) + chunk(d) - 1) / chunk(d)))

  /** The one stride kernel over explicit per-dim chunk counts — shared
    * by the planner, the cursor, and the regular-grid helper so the
    * `_chunk_ord` layout can never desynchronize between them.
    */
  private[sources] def gridStridesOf(dims: Seq[Long]): Array[Long] = {
    val ndim = dims.size
    val s = new Array[Long](ndim)
    s(ndim - 1) = 1
    var d = ndim - 2
    while (d >= 0) { s(d) = s(d + 1) * math.max(1L, dims(d + 1)); d -= 1 }
    s
  }

  /** Fixed physical schema of a manifest split data file + restored
    * partition identity columns.
    */
  val RefSchema: StructType = StructType(Seq(
    StructField("node_id", StringType),
    StructField("coord", ArrayType(IntegerType, containsNull = true)),
    StructField("c0", IntegerType), StructField("c1", IntegerType),
    StructField("c2", IntegerType), StructField("c3", IntegerType),
    StructField("kind", StringType),
    StructField("inline", BinaryType),
    StructField("chunk_id", StringType),
    StructField("location", StringType),
    StructField("offset", LongType),
    StructField("length", LongType),
    StructField("etag", StringType),
    StructField("last_modified", IntegerType),
    StructField("split", IntegerType)))

  def valuesSchema(ndim: Int, dtype: String): StructType = {
    val vt: DataType =
      if (ChunkCodec.IntDtypes.contains(dtype)) LongType
      else {
        // Reject unknown dtypes at plan time — every downstream reader
        // falls through to float64 and would return garbage silently.
        if (!ChunkCodec.FloatDtypes.contains(dtype))
          throw new graft.repo.GraftException(
            s"unknown dtype '$dtype' (expected one of " +
              (ChunkCodec.IntDtypes ++ ChunkCodec.FloatDtypes)
                .toSeq.sorted.mkString(", ") + ")")
        DoubleType
      }
    StructType((0 until ndim).map(i => StructField(s"i$i", LongType)) :+
      StructField("value", vt))
  }

  def schemaFor(opts: Map[String, String]): StructType =
    opts.getOrElse("mode", "refs") match {
      case "values" =>
        val (repo, session, array) = open(opts)
        val node = session.node(array).getOrElse(
          throw new graft.repo.GraftException(s"no array at $array"))
        val base = valuesSchema(node.shape.size, opts.getOrElse("dtype",
          throw new graft.repo.GraftException(
            "option 'dtype' required for values mode")))
        // `clustered=true`: the table carries `_c0.._cN` chunk-coord
        // columns so a provider-routed WRITE can require a clustered
        // distribution on plain field references (no FunctionCatalog) —
        // the analyzer validates input arity against this schema before
        // the WriteBuilder ever runs
        if (opts.get("clustered").contains("true"))
          StructType(base.fields ++
            (0 until node.shape.size).map(d => StructField(s"_c$d", LongType)))
        else base
      case _ => RefSchema
    }

  /** Translate v1 delete filters to inclusive CHUNK-coordinate bounds.
    * `Some(bounds)` when every filter is a conjunction of comparisons on
    * `i<d>` columns and the resulting per-dim cell range [lo, hi) is
    * chunk-aligned (lo and hi on chunk boundaries, or hi at the array
    * edge); `None` otherwise. A contradictory range comes back as an
    * empty marker (lo > hi), which is deletable (nothing to do).
    */
  private[sources] def deleteChunkBounds(
      filters: Array[org.apache.spark.sql.sources.Filter],
      shape: Seq[Long], chunkShape: Seq[Long],
      rectSizes: Seq[Seq[Long]] = Nil): Option[Seq[(Int, Int)]] = {
    import org.apache.spark.sql.sources._
    val ndim = shape.size
    val lo = Array.tabulate(ndim)(_ => 0L)
    val hi = Array.tabulate(ndim)(shape(_)) // exclusive
    val IdxCol = """i(\d+)""".r
    def dimOf(attr: String): Option[Int] = attr match {
      case IdxCol(d) if d.toInt < ndim => Some(d.toInt)
      case _ => None
    }
    def num(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    var alwaysFalse = false
    def apply(f: Filter): Boolean = f match {
      case And(a, b) => apply(a) && apply(b)
      // Catalyst constant-folds contradictory/trivial predicates before
      // pushdown (e.g. `i0 >= 12 AND i0 < 12` arrives as AlwaysFalse)
      case _: AlwaysTrue => true
      case _: AlwaysFalse => alwaysFalse = true; true
      case IsNotNull(attr) => dimOf(attr).isDefined
      case EqualTo(attr, v) => (dimOf(attr), num(v)) match {
        case (Some(d), Some(x)) =>
          lo(d) = math.max(lo(d), x); hi(d) = math.min(hi(d), x + 1); true
        case _ => false
      }
      case GreaterThan(attr, v) => (dimOf(attr), num(v)) match {
        case (Some(d), Some(x)) => lo(d) = math.max(lo(d), x + 1); true
        case _ => false
      }
      case GreaterThanOrEqual(attr, v) => (dimOf(attr), num(v)) match {
        case (Some(d), Some(x)) => lo(d) = math.max(lo(d), x); true
        case _ => false
      }
      case LessThan(attr, v) => (dimOf(attr), num(v)) match {
        case (Some(d), Some(x)) => hi(d) = math.min(hi(d), x); true
        case _ => false
      }
      case LessThanOrEqual(attr, v) => (dimOf(attr), num(v)) match {
        case (Some(d), Some(x)) => hi(d) = math.min(hi(d), x + 1); true
        case _ => false
      }
      case _ => false
    }
    if (!filters.forall(apply)) return None
    if (alwaysFalse) return Some(Seq.fill(ndim)((1, 0))) // empty region
    val perDim = (0 until ndim).map { d =>
      if (lo(d) >= hi(d)) Some((1, 0)) // empty marker
      else if (rectSizes.nonEmpty) {
        // rectilinear: aligned means lo/hi land on the grid's actual
        // chunk-start offsets (the division test has no meaning here)
        val starts = graft.meta.RectGrid.starts(rectSizes(d))
        val loIdx = starts.indexOf(lo(d))
        val hiIdx =
          if (hi(d) == shape(d)) starts.length - 1
          else starts.indexOf(hi(d)) - 1
        if (loIdx >= 0 && hiIdx >= loIdx &&
            (hi(d) == shape(d) || starts.contains(hi(d))))
          Some((loIdx, hiIdx))
        else None // mid-chunk cut — not deletable as metadata
      }
      else if (lo(d) % chunkShape(d) == 0 &&
        (hi(d) % chunkShape(d) == 0 || hi(d) == shape(d)))
        Some(((lo(d) / chunkShape(d)).toInt,
          ((hi(d) + chunkShape(d) - 1) / chunkShape(d) - 1).toInt))
      else None // mid-chunk cut — not deletable as metadata
    }
    if (perDim.forall(_.isDefined)) Some(perDim.map(_.get)) else None
  }

  /** The ONE parser for version strings — `branch:` / `tag:` /
    * `snapshot:` prefixed refs plus the `asof:<branch>@<ISO-8601 |
    * epoch-millis>` time-travel form. Unprefixed strings go to `bare`
    * (the provider treats them as a branch name; the SQL catalog
    * resolves branch → tag → snapshot id first and falls back to a
    * snapshot id).
    */
  private[graft] def parseVersion(v: String,
                                  bare: String => VersionRef): VersionRef =
    v match {
      case s if s.startsWith("branch:") => VersionRef.Branch(s.drop(7))
      case s if s.startsWith("tag:") => VersionRef.Tag(s.drop(4))
      case s if s.startsWith("snapshot:") => VersionRef.SnapshotVer(s.drop(9))
      case s if s.startsWith("asof:") =>
        val spec = s.drop(5)
        val at = spec.lastIndexOf('@')
        if (at < 0) throw new graft.repo.GraftException(
          s"asof version must be 'asof:<branch>@<instant>', got '$s'")
        val when = spec.drop(at + 1)
        VersionRef.AsOf(spec.take(at),
          if (when.nonEmpty && when.forall(_.isDigit)) when.toLong
          else java.time.Instant.parse(when).toEpochMilli)
      case s => bare(s)
    }

  private[sources] def open(opts: Map[String, String])
      : (Repository, graft.repo.Session, String) = {
    val array = opts.getOrElse("array",
      throw new graft.repo.GraftException("option 'array' is required"))
    val spark = org.apache.spark.sql.SparkSession.active
    val repo = Repository.open(Store.fromOptions(opts), spark,
      resolver = graft.virt.VirtualChunkResolver.fromOptions(opts))
    val ref = parseVersion(opts.getOrElse("version", "branch:main"),
      VersionRef.Branch(_))
    (repo, repo.readonlySession(ref), array)
  }
}

class GraftTable(opts: Map[String, String], declaredSchema: StructType)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private def mode = opts.getOrElse("mode", "refs")

  /** `DELETE FROM t WHERE <i-bounds>` / `TRUNCATE TABLE t`: deletable
    * when the predicate describes a CHUNK-ALIGNED box over the index
    * columns (each dim's [lo, hi) lands on chunk boundaries or the array
    * edge) — then the delete is a metadata operation: one distributed
    * filter over the ref relation (manifest-split pruned) staging
    * tombstones, one commit. Unaligned predicates are refused here so
    * Spark reports them unsupported instead of silently rewriting data
    * (partial-chunk deletes would need a read-modify-write the engine
    * reserves for explicit writes; zarr semantics, store.rs:515).
    */
  /** Node spec resolved once per table instance — planning calls
    * `canDeleteWhere` and execution `deleteWhere` back-to-back, and each
    * repo open is a pointer round-trip on object storage. A fresh
    * `loadTable` builds a fresh GraftTable, so DDL changes are seen by
    * subsequent statements.
    */
  private lazy val arrayNodeSpec: Option[graft.meta.NodeSpec] = {
    val (_, session, array) = GraftTableProvider.open(opts)
    session.node(array).filter(_.isArray)
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    mode == "values" && arrayNodeSpec.exists(node =>
      GraftTableProvider.deleteChunkBounds(filters, node.shape,
        node.chunkShape, node.chunkSizesPerDim).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val (repo, _, array) = GraftTableProvider.open(opts)
    val node = arrayNodeSpec.getOrElse(
      throw new graft.repo.GraftException(s"no array at $array"))
    val bounds = GraftTableProvider.deleteChunkBounds(filters, node.shape,
      node.chunkShape, node.chunkSizesPerDim)
      .getOrElse(throw new graft.repo.GraftException(
      s"unsupported delete predicate ${filters.mkString(", ")} — only " +
        "chunk-aligned index ranges can be deleted"))
    if (bounds.exists { case (lo, hi) => lo > hi }) return // empty region
    val session = repo.writableSession(opts.getOrElse("branch", "main"))
    session.stageChunkRefs(array,
      session.refsBounded(array, bounds).select(col("coord"))
        .withColumn("kind", lit(graft.meta.ChunkRef.KindDelete)))
    session.commit(opts.getOrElse("message",
      s"delete where ${filters.mkString(" and ")} $array"),
      allowEmpty = true)
  }
  override def name(): String =
    s"graft:${opts.getOrElse("path", "?")}${opts.getOrElse("array", "?")}" +
      s"@${opts.getOrElse("version", "branch:main")}"
  override def schema(): StructType =
    if (declaredSchema != null && declaredSchema.nonEmpty) declaredSchema
    else GraftTableProvider.schemaFor(opts)

  /** `SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED`: surface the array's
    * geometry and dtype (driver metadata; empty for a vanished node
    * rather than failing a describe).
    */
  override def properties(): util.Map[String, String] =
    (arrayNodeSpec match {
      case Some(n) => Map(
        "shape" -> n.shape.mkString(","),
        "chunk_shape" -> (if (n.isRectilinear) "rectilinear"
                          else n.chunkShape.mkString(",")),
        "mode" -> mode) ++ opts.get("dtype").map("dtype" -> _) ++
        opts.get("version").map("version" -> _)
      case None => Map.empty[String, String]
    }).asJava
  override def capabilities(): util.Set[TableCapability] =
    (Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE) ++
      // INSERT OVERWRITE (single-commit truncate+write) is a values-mode
      // operation; the refs relation has no overwrite semantics
      (if (mode == "values") Set(TableCapability.TRUNCATE)
       else Set.empty[TableCapability])).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(opts, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    if (mode == "values") new GraftValuesWriteBuilder(opts, info)
    else new GraftWriteBuilder(opts, info)

  /** Values tables expose `_chunk_ord` (the chunk's linearized grid
    * ordinal) — the group id Spark's runtime group filter keys row-level
    * UPDATE/MERGE rewrites on. Readable in plain queries too
    * (`SELECT _chunk_ord, ...`), like any DSv2 metadata column.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (mode == "values") Array(GraftTableProvider.ChunkOrdMetaCol)
    else Array.empty

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = () => {
    if (mode != "values")
      throw new graft.repo.GraftException(
        "row-level operations (UPDATE/MERGE/DELETE rewrites) apply to " +
          "values-mode tables only; the refs relation is append/delete " +
          "by chunk coordinate",
        kind = graft.repo.GraftError.Unsupported)
    new GraftRowLevelOperation(opts, info.command())
  }
}

/** Executor-side observability: DSv2 custom metrics surfaced per query in
  * the SQL UI / status store — the per-JVM store clients on executors are
  * invisible to driver-side [[graft.storage.LoggingStore]] counters, so
  * the connector reports storage traffic through Spark's own metric
  * plumbing (task accumulators, sum-aggregated).
  */
object GraftMetrics {
  import org.apache.spark.sql.connector.metric.{CustomSumMetric, CustomTaskMetric}

  final class ChunkBytesFetched extends CustomSumMetric {
    override def name(): String = "graftChunkBytesFetched"
    override def description(): String = "chunk bytes fetched from storage"
  }
  final class StoreGets extends CustomSumMetric {
    override def name(): String = "graftStoreGets"
    override def description(): String = "ranged GETs issued to storage"
  }
  final class ChunksDecoded extends CustomSumMetric {
    override def name(): String = "graftChunksDecoded"
    override def description(): String = "chunks decoded"
  }
  final class ChunksUploaded extends CustomSumMetric {
    override def name(): String = "graftChunksUploaded"
    override def description(): String = "chunk objects uploaded"
  }
  final class BytesUploaded extends CustomSumMetric {
    override def name(): String = "graftBytesUploaded"
    override def description(): String = "chunk bytes uploaded"
  }

  final class Task(n: String, v: Long) extends CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

// ===================================================================
// read path
// ===================================================================

class GraftScanBuilder(opts: Map[String, String], tableSchema: StructType,
                       onBuild: GraftScan => Unit = _ => ())
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private val mode = opts.getOrElse("mode", "refs")
  private val prefix = if (mode == "values") "i" else "c"
  // per-dim [lo, hi] (inclusive) bounds from pushed predicates
  private val lo = scala.collection.mutable.Map[Int, Long]().withDefaultValue(Long.MinValue)
  private val hi = scala.collection.mutable.Map[Int, Long]().withDefaultValue(Long.MaxValue)
  private var required: StructType = tableSchema
  private var accepted: Array[Filter] = Array.empty
  private var pushedAgg: Option[PushedAgg] = None

  private def dimOf(att: String): Option[Int] =
    if (att.startsWith(prefix) && att.drop(1).nonEmpty &&
        att.drop(1).forall(_.isDigit)) Some(att.drop(1).toInt)
    else None

  /** Whole-number literal — the only kind Catalyst delivers against a
    * long index column without an intervening cast (which blocks filter
    * translation), asserted here anyway so a fractional bound can never
    * be claimed as exactly pushed. Long.MinValue/MaxValue are excluded:
    * the strict comparisons compute v±1, and a wrapped bound would
    * silently widen a filter the scan just claimed to have applied.
    */
  private def integral(v: Any): Boolean = v match {
    case l: java.lang.Long =>
      l.longValue != Long.MaxValue && l.longValue != Long.MinValue
    case _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte =>
      true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case EqualTo(a, v: Number) => dimOf(a).foreach { d =>
        lo(d) = math.max(lo(d), v.longValue); hi(d) = math.min(hi(d), v.longValue) }
      case GreaterThan(a, v: Number) => dimOf(a).foreach { d =>
        lo(d) = math.max(lo(d), v.longValue + 1) }
      case GreaterThanOrEqual(a, v: Number) => dimOf(a).foreach { d =>
        lo(d) = math.max(lo(d), v.longValue) }
      case LessThan(a, v: Number) => dimOf(a).foreach { d =>
        hi(d) = math.min(hi(d), v.longValue - 1) }
      case LessThanOrEqual(a, v: Number) => dimOf(a).foreach { d =>
        hi(d) = math.min(hi(d), v.longValue) }
      case _ => ()
    }
    // Values mode honors i-dim range bounds EXACTLY (SliceGeom clips at
    // CELL granularity, not just chunk pruning), so those filters are
    // fully pushed — which is what lets Spark push an aggregation down
    // on top of a sliced scan. Refs mode prunes at manifest granularity
    // only, so it keeps every filter for Spark to re-evaluate.
    val (push, keep) =
      if (mode != "values") (Array.empty[Filter], filters)
      else filters.partition {
        case EqualTo(a, v) => dimOf(a).isDefined && integral(v)
        case GreaterThan(a, v) => dimOf(a).isDefined && integral(v)
        case GreaterThanOrEqual(a, v) => dimOf(a).isDefined && integral(v)
        case LessThan(a, v) => dimOf(a).isDefined && integral(v)
        case LessThanOrEqual(a, v) => dimOf(a).isDefined && integral(v)
        // the decoder never emits null cells or indices, so IsNotNull
        // on any values column is trivially exact — and leaving it
        // unclaimed would keep a residual Filter that blocks aggregate
        // pushdown under range predicates
        case org.apache.spark.sql.sources.IsNotNull(a) =>
          dimOf(a).isDefined || a == "value" ||
            a == GraftTableProvider.ChunkOrdCol
        case _ => false
      }
    accepted = push
    keep
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** Partial aggregate pushdown (COUNT/SUM/MIN/MAX over `value`,
    * optionally GROUP BY index columns): each partition reduces its
    * chunks in one tight decode loop and emits one partial row per
    * group — per-cell batches never reach Spark's aggregate. Spark runs
    * the final merge, so this composes with every partitioning and with
    * the exactly-pushed slice bounds above. The canonical tensor query
    * `SELECT i0, avg(value) GROUP BY i0` (per-timestep stats) collapses
    * from a cells-sized shuffle to (#partitions × #groups) rows.
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (mode != "values") return false
    def isValue(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: NamedReference => r.fieldNames.toSeq == Seq("value")
        case _ => false
      }
    val groupDims = agg.groupByExpressions().toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 =>
        dimOf(r.fieldNames.head)
      case _ => None
    }
    if (!groupDims.forall(_.isDefined)) return false
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some("count")
      case c: Count if !c.isDistinct && isValue(c.column) => Some("count")
      case s: Sum if !s.isDistinct && isValue(s.column) => Some("sum")
      case m: Min if isValue(m.column) => Some("min")
      case m: Max if isValue(m.column) => Some("max")
      case _ => None
    }
    if (!specs.forall(_.isDefined)) return false
    val isInt = ChunkCodec.IntDtypes.contains(opts.getOrElse("dtype", ""))
    val valT: DataType = if (isInt) LongType else DoubleType
    pushedAgg = Some(PushedAgg(groupDims.flatten, specs.flatten))
    // positional contract: group columns first (in groupBy order), then
    // one output column per pushed aggregate; Spark matches by position
    required = StructType(
      groupDims.flatten.map(d =>
        StructField(s"g$d", LongType, nullable = false)) ++
      specs.flatten.zipWithIndex.map {
        case ("count", i) => StructField(s"agg$i", LongType, nullable = false)
        case (_, i) => StructField(s"agg$i", valT, nullable = true)
      })
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.nonEmpty && pushedAgg.isEmpty)
      required = requiredSchema

  override def build(): Scan = {
    val s = new GraftScan(opts, lo.toMap, hi.toMap, required, pushedAgg)
    onBuild(s)
    s
  }
}

/** A pushed partial aggregation: `groupDims` (index dims to group by,
  * in groupBy order) and `funcs` (count/sum/min/max per output column).
  */
private[sources] final case class PushedAgg(groupDims: Seq[Int],
                                            funcs: Seq[String])

/** One manifest split to read (refs mode). `fsConf` makes graft:// URIs
  * resolvable on executors.
  */
case class SplitPartition(files: Array[String], nodeId: String, split: Int,
                          fsConf: Map[String, String]) extends InputPartition

/** One manifest split to decode (values mode): ref files + the geometry
  * and element bounds for the sub-block decode, and the store/virtual
  * plumbing for chunk fetch. `keepOrds` (null = all) is the runtime
  * group filter for row-level operations: linearized chunk ordinals to
  * read — every other chunk is skipped before fetch/decode.
  */
case class ValuesPartition(files: Array[String], nodeId: String,
                           fsConf: Map[String, String],
                           storeConf: StoreConf,
                           resolver: graft.virt.VirtualChunkResolver,
                           dtype: String, compression: String,
                           chunkShape: Seq[Long], shape: Seq[Long],
                           boundLo: Seq[Long], boundHi: Seq[Long],
                           keepOrds: Array[Long] = null,
                           // rectilinear grids: explicit per-dim chunk
                           // lengths (empty = regular grid via chunkShape)
                           chunkSizes: Seq[Seq[Long]] = Nil)
  extends InputPartition

object GraftScan {
  /** Upper bound on per-chunk partitions a storage-partitioned scan may
    * plan; beyond it the scan falls back to range-subdivided partitions
    * (and a shuffle join) rather than flooding the scheduler.
    */
  val SpjMaxPartitions = 8192

  /** Enumeration work bound for supergrid SPJ planning: pathological
    * fixtures where every manifest's extent box spans the whole grid
    * would cost manifests × cells; past this bound planning bails to
    * the subdivided-scan fallback rather than stall the driver.
    * Session-configurable so tests can pin the bail path without
    * building a 4M-intersection fixture.
    */
  def spjWorkCap: Long =
    try org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.spj.workCap", "4000000").toLong
    catch { case _: Throwable => 4000000L }

  /** Rectilinear inline-name boundary: up to this many chunks per dim
    * the per-dim chunk-length table rides verbatim in the
    * transform-function NAME (`chunk_coord_rect_<l0>_<l1>_...`,
    * human-readable); wider tables switch to the collision-resistant
    * digest spelling (`chunk_coord_rectd_<n>_<sha256/16B>`) resolved
    * through [[ChunkCoordFunction.lookupRectDigest]], so big rect grids
    * co-partition in storage-partitioned joins exactly when their
    * tables match — no participation cap, only a naming boundary.
    */
  val RectSpjMaxChunksPerDim = 64

  /** Coarsen a rect chunk-length table by summing runs of `g` (the
    * last run ragged): `chunkOf(coarse, i) == chunkOf(fine, i) / g`.
    */
  def coarsenTable(sizes: Seq[Long], g: Long): Seq[Long] =
    if (g <= 1L) sizes
    else sizes.grouped(g.toInt).map(_.sum).toSeq
}

class GraftScan(opts: Map[String, String], lo: Map[Int, Long],
                hi: Map[Int, Long], required: StructType,
                pushedAgg: Option[PushedAgg] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  private val mode = opts.getOrElse("mode", "refs")
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Post-pushdown size estimate so Catalyst can broadcast a sliced
    * tensor read in a join. Values mode: the in-bounds cell count
    * (bounds ∩ shape, dense upper bound — honest for committed arrays,
    * conservative for sparse ones); with a pushed aggregation the output
    * is a handful of partial rows. Refs mode reports no estimate.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val est: Option[Long] =
        if (mode != "values") None
        else try {
          val (_, session, array) = GraftTableProvider.open(opts)
          session.node(array).filter(_.isArray).map { node =>
            val cells = node.shape.indices.map { d =>
              val l = math.max(0L, lo.getOrElse(d, 0L))
              val h0 = hi.getOrElse(d, Long.MaxValue)
              val h = if (h0 == Long.MaxValue) node.shape(d)
                      else math.min(node.shape(d), h0 + 1)
              math.max(0L, h - l)
            }.product
            pushedAgg match {
              case Some(a) if a.groupDims.isEmpty => 1L
              case Some(a) =>
                // one partial row per group value (bounded by cells)
                math.min(cells, a.groupDims.map(d => node.shape(d)).product)
              case None => cells
            }
          }
        } catch { case _: Throwable => None }
      override def sizeInBytes(): java.util.OptionalLong =
        est.map(r => java.util.OptionalLong.of(
          r * 8L * math.max(1, required.fields.length)))
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        est.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }

  /** Runtime group filter (row-level UPDATE/MERGE): the set of linearized
    * chunk ordinals that contain matching rows, computed by Spark's
    * `RowLevelOperationRuntimeGroupFiltering` as a `DISTINCT _chunk_ord`
    * subquery and delivered here before partition planning. `None` =
    * no filter arrived (read everything).
    */
  @volatile private[sources] var runtimeOrds: Option[Array[Long]] = None

  /** Advertise `_chunk_ord` as runtime-filterable ONLY when it is in
    * the read schema (row-level operation scans request it via
    * requiredMetadataAttributes). Spark's dynamic-pruning rules resolve
    * these refs against the scan OUTPUT — advertising a column a plain
    * scan does not emit makes every broadcast join over the scan throw
    * at planning.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (mode == "values" &&
        required.fieldNames.contains(GraftTableProvider.ChunkOrdCol))
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftTableProvider.ChunkOrdCol))
    else Array.empty

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    def ordRef(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames.toSeq == Seq(GraftTableProvider.ChunkOrdCol)
        case _ => false
      }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Long] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value match {
            case n: java.lang.Number => Some(n.longValue())
            case _ => None
          }
        case _ => None
      }
    // only a filter we FULLY understand may prune (partial parses must
    // not drop chunks the operation still needs to rewrite)
    val parsed = predicates.toSeq.flatMap { p =>
      p.name() match {
        case "IN" if p.children().nonEmpty && ordRef(p.children()(0)) =>
          val vs = p.children().drop(1).map(lit)
          if (vs.forall(_.isDefined)) Some(vs.flatten.toSeq) else None
        case "=" if p.children().length == 2 && ordRef(p.children()(0)) =>
          lit(p.children()(1)).map(Seq(_))
        case _ => None
      }
    }
    if (parsed.nonEmpty) // predicates are conjunctive -> intersect the sets
      runtimeOrds = Some(parsed.map(_.toSet).reduce(_ intersect _).toArray)
  }
  override def description(): String = {
    val bounds = (lo.keySet ++ hi.keySet).toSeq.sorted.map(d =>
      s"d$d in [${lo.getOrElse(d, Long.MinValue)}," +
        s"${hi.getOrElse(d, Long.MaxValue)}]").mkString(", ")
    val agg = pushedAgg.map(a =>
      s", PushedAggregates: [${a.funcs.mkString(", ")}]" +
        (if (a.groupDims.nonEmpty)
          s", PushedGroupBy: [${a.groupDims.map(d => s"i$d").mkString(", ")}]"
        else "")).getOrElse("")
    val spj = if (spjInfo.isDefined) ", KeyGroupedByChunk" else ""
    s"GraftScan(${opts.getOrElse("array", "?")}, mode=$mode, $bounds$agg$spj)"
  }

  /** Storage-partitioned-join planning: when Spark's v2 bucketing is on
    * and the table came through the catalog (whose FunctionCatalog can
    * resolve `chunk_coord`), enumerate one partition per chunk inside
    * the manifest extents ∩ pushed bounds, each keyed by its chunk-grid
    * coordinate. Two arrays with the SAME chunk grid joined on their
    * index columns then plan with NO shuffle on either side — the
    * chunk-diff / mask-apply / two-variable-combine family at 100 TB.
    * Falls back (None) beyond [[GraftScan.SpjMaxPartitions]] chunks per
    * scan and under a pushed aggregation. Rectilinear grids always
    * participate: small chunk-length tables ride verbatim in the
    * transform name, wider ones as a SHA-256 digest name resolved from
    * the registered function object (so compatibility is still exact
    * table equality).
    */
  private lazy val spjInfo: Option[(graft.meta.NodeSpec, Array[Long],
      Seq[(Seq[graft.meta.ManifestRef], Array[Long])])] =
    if (mode != "values" || pushedAgg.isDefined ||
        !opts.get("via-catalog").contains("true") ||
        !org.apache.spark.sql.SparkSession.active.conf
          .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean)
      None
    else try {
      val (_, session, array) = GraftTableProvider.open(opts)
      session.node(array).filter(_.isArray)
        .flatMap { node =>
          val ndim = node.shape.size
          val bl = (0 until ndim).map(d => math.max(0L, lo.getOrElse(d, 0L)))
          val bh = (0 until ndim).map { d =>
            val h = hi.getOrElse(d, Long.MaxValue)
            if (h == Long.MaxValue) node.shape(d)
            else math.min(node.shape(d), h + 1)
          }
          if ((0 until ndim).exists(d => bh(d) <= bl(d))) None
          else spjEnumerate(session, node, bl, bh)
        }
    } catch {
      case e: Throwable =>
        // Falling back to the shuffled plan is the correct failure mode,
        // but a silent swallow would disable SPJ forever if enumeration
        // had a bug — surface the cause through tracing + stderr.
        graft.core.Trace.span("scan.spj.error",
          "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")(_ => ())
        Console.err.println(
          s"[graft] SPJ planning failed; using shuffled fallback: $e")
        None
    }

  /** One keyed cell per SUPERGRID coordinate inside the manifest
    * extents ∩ bounds, with the manifests whose boxes intersect it.
    *
    * The supergrid is the chunk grid coarsened per dim by `g(d)` —
    * derived from FULL-GRID geometry alone (never the pushed bounds),
    * so two scans of same-grid arrays compute the same coarsening no
    * matter how each is sliced, and their transform names
    * (`chunk_coord_<extent·g>` / the coarsened rect table) stay
    * name-equal. `g = 1` everywhere while the grid fits
    * [[GraftScan.SpjMaxPartitions]] — the historical one-key-per-chunk
    * behavior — and doubles along the widest dims beyond it, so a
    * 100 TB array (millions of chunks) still plans a storage-partitioned
    * join with ≤ SpjMaxPartitions keyed partitions of whole-supercell
    * element boxes instead of falling back to a shuffle exactly where
    * the shuffle hurts most. Trade-off: one task decodes ∏g chunks
    * (streamed one at a time — memory stays chunk-bounded).
    */
  private def spjEnumerate(session: graft.repo.Session,
      node: graft.meta.NodeSpec, bl: Seq[Long], bh: Seq[Long])
      : Option[(graft.meta.NodeSpec, Array[Long],
        Seq[(Seq[graft.meta.ManifestRef], Array[Long])])] = {
    val ndim = node.shape.size
    val rectStarts: IndexedSeq[Array[Long]] =
      if (!node.isRectilinear) IndexedSeq.empty
      else node.chunkSizesPerDim.toIndexedSeq
        .map(graft.meta.RectGrid.starts)
    def e2c(d: Int, e: Long): Long =
      if (rectStarts.isEmpty) e / node.chunkShape(d)
      else graft.meta.RectGrid.chunkOf(rectStarts(d), math.max(0L, e))
    val nChunks = (0 until ndim).map(d =>
      if (rectStarts.isEmpty)
        (node.shape(d) + node.chunkShape(d) - 1) / node.chunkShape(d)
      else rectStarts(d).length.toLong)
    val g = Array.fill(ndim)(1L)
    def cellsOf(d: Int): Long = (nChunks(d) + g(d) - 1) / g(d)
    // saturating product: a raw Long product overflows for grids with
    // >= 2^63 total chunks, which could exit the loop with g too small
    def totalCells: Long = {
      var p = 1L
      var d = 0
      while (d < ndim && p <= GraftScan.SpjMaxPartitions) {
        val c = math.max(1L, cellsOf(d))
        p = if (p > Long.MaxValue / c) Long.MaxValue else p * c
        d += 1
      }
      p
    }
    while (totalCells > GraftScan.SpjMaxPartitions)
      { val d0 = (0 until ndim).maxBy(cellsOf); g(d0) *= 2 }
    val cLoB = (0 until ndim).map(d => e2c(d, bl(d)) / g(d))
    val cHiB = (0 until ndim).map(d => e2c(d, bh(d) - 1) / g(d))
    val cellMap = scala.collection.mutable.LinkedHashMap[Seq[Long],
      scala.collection.mutable.ArrayBuffer[graft.meta.ManifestRef]]()
    val manifests = session.base.manifests.getOrElse(node.id, Nil)
    // defensive work bound: pathological extent boxes (every split
    // spanning the whole grid) would make this manifests × cells; bail
    // to the subdivided-scan fallback rather than stall planning
    var work = 0L
    val workCap = GraftScan.spjWorkCap
    manifests.foreach { m =>
      if (work <= workCap && m.emin.size == ndim) {
        val clo = (0 until ndim).map(d =>
          math.max(m.emin(d).toLong / g(d), cLoB(d)))
        val chi = (0 until ndim).map(d =>
          math.min(m.emax(d).toLong / g(d), cHiB(d)))
        if ((0 until ndim).forall(d => clo(d) <= chi(d))) {
          def rec(d: Int, acc: List[Long]): Unit =
            if (work > workCap) ()
            else if (d == ndim) {
              work += 1
              cellMap.getOrElseUpdate(acc.reverse,
                scala.collection.mutable.ArrayBuffer()) += m
            } else {
              var c = clo(d)
              while (c <= chi(d) && work <= workCap) {
                rec(d + 1, c :: acc); c += 1
              }
            }
          rec(0, Nil)
        }
      }
    }
    if (work > workCap || cellMap.isEmpty) None
    else Some((node, g,
      cellMap.iterator.map { case (k, ms) => (ms.toSeq, k.toArray) }.toSeq))
  }

  /** Report chunk-grid key grouping so the planner can match two
    * same-grid arrays without an exchange (UnknownPartitioning
    * otherwise — planner behaves exactly as before).
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjInfo match {
      case Some((node, g, cells)) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        // single-argument transform family: SPJ planning only supports
        // transforms whose sole child is a column reference, so the
        // chunk geometry rides in the function name (and canonicalName —
        // grids match only when extents/length-tables AND the derived
        // coarsening match, and the coarsening is a pure function of
        // the grid). Supergrid coord = floor(i / (extent·g)) for
        // regular dims; rect dims coarsen the chunk-length table by
        // summing runs of g.
        val exprs = node.shape.indices.map(d =>
          Expressions.apply(
            if (node.isRectilinear)
              ChunkCoordFunction.rectNameFor(
                GraftScan.coarsenTable(node.chunkSizesPerDim(d), g(d)))
            else ChunkCoordFunction.fixedName(node.chunkShape(d) * g(d)),
            Expressions.column(s"i$d"))
            : org.apache.spark.sql.connector.expressions.Expression).toArray
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(exprs, cells.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  override def planInputPartitions(): Array[InputPartition] =
    graft.core.Trace.span("scan.plan", "mode" -> mode,
      "array" -> opts.getOrElse("array", "")) { h =>
      val parts = planImpl()
      h.set("partitions", parts.length.toLong)
      parts
    }

  private def planImpl(): Array[InputPartition] = {
    val (repo, session, array) = GraftTableProvider.open(opts)
    val store = repo.store
    val fsConf = graft.storage.hadoop.GraftFileSystem.shippableConf(store)
    val node = session.node(array).getOrElse(
      throw new graft.repo.GraftException(s"no array at $array"))
    val ndim = node.shape.size
    // rectilinear geometry (store.rs:1158-1241): element -> chunk index
    // by binary search over the per-dim start-offset tables; regular
    // grids keep the division. Empty = regular.
    val rectSizes: Seq[Seq[Long]] =
      if (node.isRectilinear) node.chunkSizesPerDim else Nil
    val rectStarts: IndexedSeq[Array[Long]] = rectSizes.toIndexedSeq
      .map(graft.meta.RectGrid.starts)
    def elemToChunk(d: Int, e: Long): Long =
      if (rectSizes.isEmpty) e / node.chunkShape.lift(d).getOrElse(1L)
      else if (e < 0) -1L
      else graft.meta.RectGrid.chunkOf(rectStarts(d), e)
    /** Global element offset where chunk `c` of dim `d` starts (the
      * array length for one-past-the-last).
      */
    def chunkStartOf(d: Int, c: Long): Long =
      if (rectSizes.isEmpty) c * node.chunkShape(d)
      else if (c >= rectStarts(d).length) node.shape(d)
      else rectStarts(d)(c.toInt)
    // chunk-coord bounds: refs-mode bounds are chunk coords already;
    // values-mode bounds are element indices
    def chunkBound(d: Int): (Long, Long) = {
      val l = lo.getOrElse(d, Long.MinValue)
      val h = hi.getOrElse(d, Long.MaxValue)
      if (mode == "values")
        (if (l == Long.MinValue) Long.MinValue else elemToChunk(d, l),
          if (h == Long.MaxValue) Long.MaxValue else elemToChunk(d, h))
      else (l, h)
    }
    val keep = session.base.manifests.getOrElse(node.id, Nil)
      .filter { m =>
        m.emin.indices.forall { d =>
          val (cl, ch) = chunkBound(d)
          m.emin(d) <= ch && m.emax(d) >= cl
        }
      }
    // ONE object-store LIST per distinct manifest id, bucketed by split
    // — never one per kept split: a 100 TB array with thousands of
    // splits would otherwise issue thousands of sequential LIST calls
    // on the driver at plan time
    val filesByManifest =
      scala.collection.mutable.Map[String, Map[Int, Array[String]]]()
    def filesOf(m: graft.meta.ManifestRef): Array[String] =
      filesByManifest.getOrElseUpdate(m.manifestId, {
        val prefix = graft.meta.Layout.manifestPrefix(m.manifestId) +
          s"/node_id=${node.id}/"
        store.list(prefix)
          .filter(_.key.endsWith(".parquet"))
          .flatMap { o =>
            val rest = o.key.drop(prefix.length)
            if (!rest.startsWith("split=")) None
            else {
              val slash = rest.indexOf('/')
              if (slash <= 6) None
              else rest.substring(6, slash).toIntOption
                .map(sp => sp -> store.uri(o.key))
            }
          }
          .groupBy(_._1)
          .map { case (sp, vs) => sp -> vs.map(_._2).toArray }
      }).getOrElse(m.split, Array.empty)
    if (mode == "values") {
      val dtype = opts.getOrElse("dtype",
        throw new graft.repo.GraftException("dtype required"))
      if (!ChunkCodec.IntDtypes.contains(dtype) &&
          !ChunkCodec.FloatDtypes.contains(dtype))
        throw new graft.repo.GraftException(s"unknown dtype '$dtype'")
      val bl = (0 until ndim).map(d => math.max(0L, lo.getOrElse(d, 0L)))
      val bh = (0 until ndim).map { d =>
        val h = hi.getOrElse(d, Long.MaxValue)
        if (h == Long.MaxValue) node.shape(d)
        else math.min(node.shape(d), h + 1) // inclusive -> exclusive
      }
      // storage-partitioned-join mode: one KEYED partition per SUPERGRID
      // cell (g = 1 per dim while the grid fits the cap → one per
      // chunk, the historical shape), pruned by the runtime group
      // filter if one arrived; file lists are resolved per manifest
      // once, and a cell spanning several splits unions their files
      spjInfo.foreach { case (spjNode, g, cells) =>
        val files =
          scala.collection.mutable.Map[graft.meta.ManifestRef, Array[String]]()
        val chunkDims = (0 until ndim).map(d =>
          if (rectSizes.isEmpty)
            (spjNode.shape(d) + spjNode.chunkShape(d) - 1) /
              spjNode.chunkShape(d)
          else rectSizes(d).size.toLong)
        val cellDims = (0 until ndim).map(d =>
          (chunkDims(d) + g(d) - 1) / g(d))
        val cs = GraftTableProvider.gridStridesOf(chunkDims)
        val gs = GraftTableProvider.gridStridesOf(cellDims)
        // runtime group filter arrives as CHUNK ordinals: map each to
        // its supergrid cell ordinal, keep cells with any match, and
        // ship the chunk-level set so the cursor still skips
        // non-matching chunks inside a kept cell
        val cellOrds: Option[Set[Long]] = runtimeOrds.map { ords =>
          ords.map { o =>
            var rem = o
            var acc = 0L
            var d = 0
            while (d < ndim) {
              val c = rem / cs(d); rem %= cs(d)
              acc += (c / g(d)) * gs(d)
              d += 1
            }
            acc
          }.toSet
        }
        return cells.filter { case (_, key) =>
            cellOrds.forall(_.contains(
              key.indices.map(d => key(d) * gs(d)).sum)) }
          .map { case (ms, key) =>
            val pLo = (0 until ndim).map(d =>
              math.max(bl(d), chunkStartOf(d, key(d) * g(d))))
            val pHi = (0 until ndim).map(d =>
              math.min(bh(d), chunkStartOf(d,
                math.min(key(d) * g(d) + g(d), chunkDims(d)))))
            KeyedValuesPartition(ValuesPartition(
              ms.flatMap(m => files.getOrElseUpdate(m, filesOf(m)))
                .distinct.toArray, node.id, fsConf,
              store.conf, repo.virtualResolver, dtype,
              opts.getOrElse("compression", "raw"), node.chunkShape,
              node.shape, pLo, pHi,
              keepOrds = runtimeOrds.orNull,
              chunkSizes = rectSizes), key)
              : InputPartition
          }.toArray
      }
      // one split can hold thousands of chunks: subdivide its chunk range
      // along the widest dim so a single-split array still saturates the
      // cluster (each piece re-reads the tiny manifest parquet but fetches
      // and decodes ONLY chunks inside its element bounds)
      if (keep.isEmpty) return Array.empty
      val target = math.max(1, org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism * 2)
      val perSplit = math.max(1, (target + keep.size - 1) / keep.size)
      keep.flatMap { m =>
        val base = ValuesPartition(filesOf(m), node.id, fsConf,
          store.conf, repo.virtualResolver, dtype,
          opts.getOrElse("compression", "raw"), node.chunkShape, node.shape,
          bl, bh, chunkSizes = rectSizes)
        val cLo = (0 until ndim).map(d => math.max(m.emin.lift(d)
          .getOrElse(0).toLong, elemToChunk(d, bl(d))))
        val cHi = (0 until ndim).map(d => math.min(m.emax.lift(d)
          .getOrElse(Int.MaxValue).toLong,
          elemToChunk(d, math.max(bl(d), bh(d) - 1))))
        if (perSplit == 1 || m.emin.size != ndim ||
            (0 until ndim).exists(d => cHi(d) < cLo(d))) Seq(base)
        else {
          val d0 = (0 until ndim).maxBy(d => cHi(d) - cLo(d))
          val span = cHi(d0) - cLo(d0) + 1
          val pieces = math.min(span, perSplit.toLong).toInt
          val step = (span + pieces - 1) / pieces
          (0 until pieces).flatMap { j =>
            val a = cLo(d0) + j * step
            if (a > cHi(d0)) None
            else {
              val b = math.min(cHi(d0), a + step - 1)
              Some(base.copy(
                boundLo = bl.updated(d0,
                  math.max(bl(d0), chunkStartOf(d0, a))),
                boundHi = bh.updated(d0,
                  math.min(bh(d0), chunkStartOf(d0, b + 1)))))
            }
          }
        }
      }.flatMap { p =>
        // runtime group filter: drop partitions whose chunk box holds no
        // matching ordinal; survivors carry the set so the cursor skips
        // non-matching chunks before the byte fetch
        runtimeOrds match {
          case None => Some(p)
          case Some(ords) =>
            val dims = (0 until ndim).map(d =>
              if (rectSizes.isEmpty)
                (node.shape(d) + node.chunkShape(d) - 1) /
                  node.chunkShape(d)
              else rectSizes(d).size.toLong)
            val gs = GraftTableProvider.gridStridesOf(dims)
            val cLo = (0 until ndim).map(d => elemToChunk(d, p.boundLo(d)))
            val cHi = (0 until ndim).map(d => elemToChunk(d,
              math.max(p.boundLo(d) + 1, p.boundHi(d)) - 1))
            val inside = ords.filter { o =>
              (0 until ndim).forall { d =>
                val c = (o / gs(d)) % math.max(1L, dims(d))
                c >= cLo(d) && c <= cHi(d)
              }
            }
            if (inside.isEmpty) None else Some(p.copy(keepOrds = inside))
        }
      }.map(p => p: InputPartition).toArray
    } else
      keep.map(m => SplitPartition(filesOf(m), node.id, m.split,
        fsConf): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    pushedAgg match {
      case Some(spec) => new GraftAggReaderFactory(spec)
      case None => new GraftReaderFactory(required)
    }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftMetrics.ChunkBytesFetched, new GraftMetrics.StoreGets,
      new GraftMetrics.ChunksDecoded)
}

/** One chunk's partition under storage-partitioned-join planning: the
  * partition KEY is the chunk-grid coordinate (`chunk_coord(i_d)` per
  * dim), so Spark can group both join sides by chunk and skip the
  * shuffle entirely when two arrays share a chunk grid.
  */
case class KeyedValuesPartition(vp: ValuesPartition, keyVals: Array[Long])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyVals.map(v => v: Any))
}

class GraftReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft scans are columnar: Spark reads them through createColumnarReader")

  /** Both modes hand Spark '''columnar batches''': values fill primitive
    * long/double vectors in tight per-chunk loops; refs append
    * strings/ints/arrays straight into `OnHeapColumnVector`s — either
    * way no per-row `GenericInternalRow` boxing, and whole-stage codegen
    * consumes the batches directly above a `ColumnarToRow`.
    */
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case vp: ValuesPartition => new GraftValuesColumnarReader(vp, required)
      case sp: SplitPartition => new GraftRefsColumnarReader(sp, required)
      case kp: KeyedValuesPartition =>
        new GraftValuesColumnarReader(kp.vp, required)
    }
}

/** Iterates one split's Parquet files with parquet-mr (no Spark session on
  * executors); shared by both read modes.
  */
private[sources] class SplitGroupIterator(files: Array[String],
                                          fsConf: Map[String, String]) {
  private val conf = {
    val c = new Configuration()
    fsConf.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val fileIt = files.iterator
  private var reader: ParquetReader[Group] = _

  /** Next row group, or null when exhausted. */
  def next(): Group = {
    while (true) {
      if (reader == null) {
        if (!fileIt.hasNext) return null
        reader = ParquetReader.builder(new GroupReadSupport(),
          new Path(fileIt.next())).withConf(conf).build()
      }
      val g = reader.read()
      if (g != null) return g
      reader.close(); reader = null
    }
    null
  }

  def close(): Unit = if (reader != null) { reader.close(); reader = null }

  def has(g: Group, field: String): Boolean =
    g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0

  def coordOf(g: Group): Array[Int] =
    if (!has(g, "coord")) Array.emptyIntArray
    else {
      val list = g.getGroup("coord", 0)
      val n = list.getFieldRepetitionCount("list")
      Array.tabulate(n)(i => list.getGroup("list", i).getInteger("element", 0))
    }
}

/** Refs-mode '''columnar''' reader: appends manifest rows column-at-a-time
  * into `OnHeapColumnVector`s (strings and binaries as byte-array
  * appends, coord as a nested int array) — no per-row object allocation
  * on the scan path that feeds every engine merge/join.
  */
class GraftRefsColumnarReader(part: SplitPartition, required: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val BatchRows = 4096
  private val it = new SplitGroupIterator(part.files, part.fsConf)
  private val vectors = required.fields.map(f =>
    new OnHeapColumnVector(BatchRows, f.dataType))
  private val batch = new ColumnarBatch(
    vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))
  private val nodeIdBytes =
    part.nodeId.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def next(): Boolean = {
    vectors.foreach(_.reset())
    var row = 0
    var g: Group = null
    while (row < BatchRows && { g = it.next(); g != null }) {
      var c = 0
      while (c < required.fields.length) {
        val f = required.fields(c)
        val vec = vectors(c)
        f.name match {
          case "node_id" =>
            vec.appendByteArray(nodeIdBytes, 0, nodeIdBytes.length)
          case "split" => vec.appendInt(part.split)
          case "coord" =>
            if (!it.has(g, "coord")) { vec.appendNull(): Unit }
            else {
              // appendArray records offset = child position at CALL time,
              // so it must run before the element appends.
              val arr = it.coordOf(g)
              vec.appendArray(arr.length)
              val child = vec.arrayData()
              var j = 0
              while (j < arr.length) { child.appendInt(arr(j)); j += 1 }
            }
          case "inline" =>
            if (!it.has(g, "inline")) { vec.appendNull(): Unit }
            else {
              val b = g.getBinary("inline", 0).getBytes
              vec.appendByteArray(b, 0, b.length)
            }
          case n @ ("c0" | "c1" | "c2" | "c3" | "last_modified") =>
            if (!it.has(g, n)) { vec.appendNull(): Unit }
            else vec.appendInt(g.getInteger(n, 0))
          case n @ ("offset" | "length") =>
            if (!it.has(g, n)) { vec.appendNull(): Unit }
            else vec.appendLong(g.getLong(n, 0))
          case n =>
            if (!it.has(g, n)) { vec.appendNull(): Unit }
            else {
              val b = g.getString(n, 0)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              vec.appendByteArray(b, 0, b.length)
            }
        }
        c += 1
      }
      row += 1
    }
    batch.setNumRows(row)
    row > 0
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    vectors.foreach(_.close())
    it.close()
  }
}

/** One overlapping chunk's decoded cells: its coord, its decompressed
  * buffer, the packed `(base, len)` pairs of its contiguous runs inside
  * the region ([[SliceGeom.foreachRun]]), and its block geometry
  * (global start, extent and row-major strides per dim).
  */
private[sources] final case class ChunkCells(coord: Array[Int],
                                             bb: java.nio.ByteBuffer,
                                             runs: Array[Long],
                                             blk: SliceGeom.Block)

/** Shared cursor of values-mode readers: ref rows → ranged chunk fetch →
  * sub-block geometry. Yields one [[ChunkCells]] per overlapping chunk.
  */
private[sources] final class ValuesChunkCursor(part: ValuesPartition) {
  private val it = new SplitGroupIterator(part.files, part.fsConf)
  private lazy val store = StoreConf.cached(part.storeConf)
  private var bytesFetched = 0L
  private var gets = 0L
  private var chunksDecoded = 0L

  def metricsValues: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new GraftMetrics.Task("graftChunkBytesFetched", bytesFetched),
      new GraftMetrics.Task("graftStoreGets", gets),
      new GraftMetrics.Task("graftChunksDecoded", chunksDecoded))
  // rect nodes carry no regular chunkShape — rank comes from the
  // explicit per-dim chunk-length tables there
  val ndim: Int =
    if (part.chunkSizes.nonEmpty) part.chunkSizes.size
    else part.chunkShape.size
  private val chunkArr: Array[Long] = part.chunkShape.toArray
  private val gridStridesArr: Array[Long] =
    // ord strides over the CHUNK GRID; rect dims come from the explicit
    // per-dim chunk counts, regular from ceil(shape/chunk)
    if (part.chunkSizes.isEmpty)
      GraftTableProvider.gridStrides(part.shape, part.chunkShape)
    else GraftTableProvider.gridStridesOf(
      part.chunkSizes.map(_.size.toLong))
  /** Linearized chunk-grid ordinal of `coord` (the `_chunk_ord` value). */
  def chunkOrd(coord: Array[Int]): Long = {
    var o = 0L
    var d = 0
    while (d < ndim) { o += coord(d).toLong * gridStridesArr(d); d += 1 }
    o
  }
  // runtime group filter: chunks outside the set are skipped BEFORE the
  // byte fetch — a row-level UPDATE touching k chunks costs k fetches
  private val keepSet: java.util.HashSet[java.lang.Long] =
    if (part.keepOrds == null) null
    else {
      val s = new java.util.HashSet[java.lang.Long](part.keepOrds.length * 2)
      part.keepOrds.foreach(o => s.add(o))
      s
    }
  // element bounds ∩ array shape (clip partial edge chunks)
  private val loArr = part.boundLo.toArray
  private val hiArr = part.boundHi.zip(part.shape).map { case (h, s) =>
    math.min(h, s)
  }.toArray

  private def fetchBytes(g: Group): Array[Byte] = {
    val kind = if (it.has(g, "kind")) g.getString("kind", 0) else ""
    val offset = if (it.has(g, "offset")) g.getLong("offset", 0) else 0L
    val length = if (it.has(g, "length")) g.getLong("length", 0) else 0L
    kind match {
      case graft.meta.ChunkRef.KindInline => g.getBinary("inline", 0).getBytes
      case graft.meta.ChunkRef.KindRef =>
        val key = graft.meta.Layout.chunkKey(g.getString("chunk_id", 0))
        // gets/bytes metrics count STORAGE traffic: cache hits stay out,
        // misses count exactly once (inside the miss callback). Scans
        // read every chunk once — bypass the cache (bulk-scan contract)
        graft.storage.ChunkCache.read(store, key, offset, length,
          onMiss = n => { gets += 1; bytesFetched += n },
          cacheable = false)
      case graft.meta.ChunkRef.KindVirtual =>
        gets += 1
        val b = part.resolver.ranged(g.getString("location", 0), offset,
          length)
        bytesFetched += b.length
        b
      case other => throw new graft.repo.GraftException(
        s"unexpected payload kind '$other'")
    }
  }

  /** Next overlapping chunk's cells, or null when exhausted. */
  def nextChunk(): ChunkCells = {
    while (true) {
      val g = it.next()
      if (g == null) return null
      val coord = it.coordOf(g)
      val blk =
        if (keepSet != null && !keepSet.contains(chunkOrd(coord))) null
        else SliceGeom.blockOf(coord, chunkArr, part.chunkSizes, loArr,
          hiArr)
      if (blk != null) {
        chunksDecoded += 1
        val raw = ChunkCodec.decompress(fetchBytes(g), part.compression)
        val bb = java.nio.ByteBuffer.wrap(raw)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val rs = new scala.collection.mutable.ArrayBuilder.ofLong
        SliceGeom.foreachRun(blk)((base, len) => { rs += base; rs += len })
        return ChunkCells(coord, bb, rs.result(), blk)
      }
    }
    null
  }

  def close(): Unit = it.close()
}

class GraftAggReaderFactory(spec: PushedAgg)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new GraftValuesAggReader(partition.asInstanceOf[ValuesPartition], spec)
}

/** Per-group partial accumulator for the pushed-aggregate reader. It is
  * not [[SliceGeom.Stats]]: SQL's `sum`, `min` and `max` over integer
  * dtypes are exact `long`s, where the stats loop folds doubles.
  */
private final class AggAcc {
  var n = 0L
  var sumL = 0L
  var sumD = 0.0
  var minL: Long = Long.MaxValue
  var maxL: Long = Long.MinValue
  var minD: Double = Double.PositiveInfinity
  var maxD: Double = Double.NegativeInfinity
}

/** Pushed-aggregate reader: reduces every in-bounds cell of the
  * partition's chunks in one run-based decode loop and emits one
  * partial row PER GROUP (count/sum/min/max per pushed func) — per-cell
  * batches never exist, Spark's final aggregate merges
  * #partitions × #groups rows. The global (no GROUP BY) case always
  * emits its single row, with count=0 and null sum/min/max when the
  * partition holds no cells, so the final merge keeps exact SQL
  * semantics (global sum over zero cells is NULL).
  *
  * Group keys are index-dim values. A decode run is contiguous in the
  * LAST dim only, so every grouped dim except the last is constant per
  * run — the accumulator is fetched once per run unless the group
  * includes the innermost dim.
  */
class GraftValuesAggReader(part: ValuesPartition, spec: PushedAgg)
    extends PartitionReader[InternalRow] {
  private val cursor = new ValuesChunkCursor(part)
  private val isInt = ChunkCodec.IntDtypes.contains(part.dtype)
  private val ndim = cursor.ndim
  private val groupDims = spec.groupDims.toArray
  private var out: Iterator[InternalRow] = _

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    cursor.metricsValues

  private def reduceAll(): Iterator[InternalRow] = {
    val kind = part.dtype match {
      case "int8" => 0
      case "int16" => 1
      case "int32" => 2
      case "int64" => 3
      case "float32" => 4
      case _ => 5
    }
    val groups =
      scala.collection.mutable.LinkedHashMap[Seq[Long], AggAcc]()
    val global = new AggAcc // used when groupDims is empty
    val lastDimGrouped = groupDims.contains(ndim - 1)
    val key = new Array[Long](groupDims.length)

    @inline def accum(acc: AggAcc, bb: java.nio.ByteBuffer, from: Int,
                      until: Int): Unit = {
      var p = from
      if (isInt) {
        while (p < until) {
          val v = kind match {
            case 0 => bb.get(p).toLong
            case 1 => bb.getShort(p * 2).toLong
            case 2 => bb.getInt(p * 4).toLong
            case _ => bb.getLong(p * 8)
          }
          acc.sumL += v
          if (v < acc.minL) acc.minL = v
          if (v > acc.maxL) acc.maxL = v
          p += 1
        }
      } else {
        while (p < until) {
          val v = if (kind == 4) bb.getFloat(p * 4).toDouble
                  else bb.getDouble(p * 8)
          acc.sumD += v
          if (v < acc.minD) acc.minD = v
          if (v > acc.maxD) acc.maxD = v
          p += 1
        }
      }
      acc.n += until - from
    }

    var cells = cursor.nextChunk()
    while (cells != null) {
      val bb = cells.bb
      val runs = cells.runs
      val coord = cells.coord
      var r = 0
      while (r < runs.length) {
        val base = runs(r).toInt
        val len = runs(r + 1).toInt
        if (groupDims.isEmpty) {
          accum(global, bb, base, base + len)
        } else if (!lastDimGrouped) {
          // all grouped dims constant across the run: one map probe
          var k = 0
          while (k < groupDims.length) {
            val d = groupDims(k)
            key(k) = cells.blk.chunkStart(d) +
              (base / cells.blk.strides(d)) % cells.blk.extent(d)
            k += 1
          }
          val acc = groups.getOrElseUpdate(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(key.clone()),
            new AggAcc)
          accum(acc, bb, base, base + len)
        } else {
          // innermost dim grouped: key changes per cell
          var p = base
          while (p < base + len) {
            var k = 0
            while (k < groupDims.length) {
              val d = groupDims(k)
              key(k) = cells.blk.chunkStart(d) +
                (p / cells.blk.strides(d)) % cells.blk.extent(d)
              k += 1
            }
            val acc = groups.getOrElseUpdate(
              scala.collection.immutable.ArraySeq
                .unsafeWrapArray(key.clone()),
              new AggAcc)
            accum(acc, bb, p, p + 1)
            p += 1
          }
        }
        r += 2
      }
      cells = cursor.nextChunk()
    }

    def row(groupKey: Seq[Long], acc: AggAcc): InternalRow = {
      val aggVals: Seq[Any] = spec.funcs.map {
        case "count" => acc.n: Any
        case "sum" =>
          if (acc.n == 0L) null else if (isInt) acc.sumL: Any else acc.sumD: Any
        case "min" =>
          if (acc.n == 0L) null else if (isInt) acc.minL: Any else acc.minD: Any
        case _ =>
          if (acc.n == 0L) null else if (isInt) acc.maxL: Any else acc.maxD: Any
      }
      new GenericInternalRow(
        (groupKey.map(v => v: Any) ++ aggVals).toArray)
    }
    if (groupDims.isEmpty) Iterator(row(Nil, global))
    else groups.iterator.map { case (k, acc) => row(k, acc) }
  }

  override def next(): Boolean = {
    if (out == null) out = reduceAll()
    out.hasNext
  }
  override def get(): InternalRow = out.next()
  override def close(): Unit = cursor.close()
}

/** Values-mode '''columnar''' reader: fills primitive long/double vectors
  * chunk-run-at-a-time — no per-cell row allocation, and Spark's
  * whole-stage codegen consumes the batches directly. The physical layout
  * (i-columns computed from position arithmetic, value read straight off
  * the decoded buffer) makes a 1 GiB scan a handful of tight loops.
  */
class GraftValuesColumnarReader(part: ValuesPartition, required: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val BatchRows = 4096
  private val cursor = new ValuesChunkCursor(part)
  private val vectors = required.fields.map(f =>
    new OnHeapColumnVector(BatchRows, f.dataType))
  private val batch = new ColumnarBatch(
    vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))

  private var cells: ChunkCells = _
  private var run = 0 // index of the current run's base in cells.runs
  private var done = 0 // cells of the current run already emitted

  override def next(): Boolean = {
    vectors.foreach(_.reset())
    var row = 0
    while (row < BatchRows) {
      if (cells == null || run >= cells.runs.length) {
        cells = cursor.nextChunk()
        if (cells == null) {
          batch.setNumRows(row)
          return row > 0
        }
        run = 0
        done = 0
      }
      // fill every column from the current run: cells p0 until p0 + take
      // of the decoded buffer, contiguous by construction
      val p0 = (cells.runs(run) + done).toInt
      val take = math.min(BatchRows - row, cells.runs(run + 1).toInt - done)
      var c = 0
      while (c < required.fields.length) {
        val f = required.fields(c)
        val vec = vectors(c)
        if (f.name == "value") {
          val bb = cells.bb
          var j = 0
          part.dtype match {
            case "int8" => while (j < take) {
              vec.putLong(row + j, bb.get(p0 + j)); j += 1 }
            case "int16" => while (j < take) {
              vec.putLong(row + j, bb.getShort((p0 + j) * 2)); j += 1 }
            case "int32" => while (j < take) {
              vec.putLong(row + j, bb.getInt((p0 + j) * 4)); j += 1 }
            // 8-byte cells bulk-copy straight from the decoded buffer
            // into the vector (little-endian both sides)
            case "int64" => vec.putLongsLittleEndian(row, take, bb.array(),
              bb.arrayOffset() + p0 * 8)
            case "float32" => while (j < take) {
              vec.putDouble(row + j, bb.getFloat((p0 + j) * 4)); j += 1 }
            case _ => vec.putDoublesLittleEndian(row, take, bb.array(),
              bb.arrayOffset() + p0 * 8)
          }
        } else if (f.name == GraftTableProvider.ChunkOrdCol) {
          vec.putLongs(row, take, cursor.chunkOrd(cells.coord))
        } else {
          // a run walks the innermost dim; every other index is constant
          val d = f.name.drop(1).toInt
          val blk = cells.blk
          val first = blk.chunkStart(d) + (p0 / blk.strides(d)) % blk.extent(d)
          if (d < cursor.ndim - 1) vec.putLongs(row, take, first)
          else {
            var j = 0
            while (j < take) { vec.putLong(row + j, first + j); j += 1 }
          }
        }
        c += 1
      }
      row += take
      done += take
      if (done == cells.runs(run + 1)) { run += 2; done = 0 }
    }
    batch.setNumRows(row)
    true
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    cursor.metricsValues

  override def close(): Unit = {
    vectors.foreach(_.close())
    cursor.close()
  }
}

// ===================================================================
// write path: distributed stage-refs-then-CAS-commit
// ===================================================================

class GraftWriteBuilder(opts: Map[String, String], info: LogicalWriteInfo)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new GraftBatchWrite(opts, info.schema())
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(opts, info.queryId(),
        new GraftBatchWrite(opts, info.schema()))
  }
}

/** Commit message: the staging key one task wrote its refs to. */
case class StagedRefsMessage(stagingKey: String, rows: Long)
  extends WriterCommitMessage

/** The §3.3 distributed write: executors write ref Parquet objects under
  * one staging prefix; `commit` stages the whole dataset on a writable
  * session and runs the CAS commit loop exactly once. `abort` deletes the
  * staging prefix (chunk objects referenced by aborted refs are left to
  * GC, matching the reference's orphan policy).
  */
/** A batch write whose commit can stamp extra snapshot properties —
  * what [[GraftStreamingWrite]] needs to reuse a write path per epoch.
  */
trait GraftEpochCommittable extends BatchWrite {
  def commitWithProps(messages: Array[WriterCommitMessage],
                      props: Map[String, String]): Unit
}

class GraftBatchWrite(opts: Map[String, String], schema: StructType)
    extends GraftEpochCommittable {
  private val stagingRoot = graft.meta.Layout.stagingPrefix(
    graft.core.Ids.toBase32(graft.core.Ids.newObjectId()))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val (repo, _, _) = GraftTableProvider.open(opts)
    new GraftRefWriterFactory(repo.store.conf, stagingRoot, schema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitWithProps(messages, Map.empty)

  /** Same commit, stamping `props` onto the snapshot (the streaming
    * adapter records its epoch marker this way).
    */
  def commitWithProps(messages: Array[WriterCommitMessage],
                      props: Map[String, String]): Unit = {
    val (repo, _, array) = GraftTableProvider.open(opts)
    val spark = org.apache.spark.sql.SparkSession.active
    val session = repo.writableSession(opts.getOrElse("branch", "main"))
    // read ONLY the files the committed attempts reported — a retried
    // task may have left a second part file for the same partition under
    // the staging root, and reading the whole prefix would double-commit
    val keys = messages.collect { case m: StagedRefsMessage => m.stagingKey }
    if (keys.nonEmpty) {
      val staged = spark.read.schema(schema)
        .parquet(keys.map(repo.store.uri).toSeq: _*)
      session.trackStaging(stagingRoot)
      session.stageChunkRefs(array, staged)
    }
    session.commit(opts.getOrElse("message", s"v2 write $array"),
      properties = props, allowEmpty = true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (repo, _, _) = GraftTableProvider.open(opts)
    repo.store.deletePrefix(stagingRoot)
  }
}

// ===================================================================
// write path, values mode: Spark-arranged chunk assembly
// ===================================================================

/** Values-plane write (`mode=values`): the input is (i0..iN, value) rows;
  * the connector asks SPARK to arrange them via
  * [[RequiresDistributionAndOrdering]] — ORDERED distribution on
  * `i0..iN` ascending (pure field references: the only expression family
  * Spark translates for provider-based writes — derived chunk-coord
  * expressions or named transforms would need a FunctionCatalog, which
  * `df.write.format(...)` tables don't have). Range partitioning +
  * within-partition sort give every task one contiguous row-major run.
  *
  * Chunk assembly exploits the run's geometry: group rows by chunk-row
  * STRIPE (the leading-dim chunk index c0, monotone under the sort). Any
  * stripe strictly between a task's first and last stripes is provably
  * whole to the task — a contiguous global range covers interior stripes
  * completely — so its chunks encode+upload directly, streaming, one
  * stripe of buffers in memory. Only the first and last stripes (the
  * ones a range boundary can cut mid-chunk) emit their cells to a small
  * leftover dataset; `commit` assembles those few boundary chunks with
  * one [[graft.tensor.TensorPlane]]-style shuffle job (O(tasks × stripe)
  * cells, not O(data)).
  */
class GraftValuesWriteBuilder(opts: Map[String, String],
                              info: LogicalWriteInfo,
                              rowLevel: Option[GraftRowLevelOperation] = None)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  /** `INSERT OVERWRITE` / `SaveMode.Overwrite`: ONE commit that stages
    * tombstones for every existing chunk the incoming data does not
    * rewrite, alongside the new refs — readers at the previous snapshot
    * keep the old state, readers at the new one see exactly the new data
    * (not a truncate commit followed by a write commit).
    */
  override def truncate(): WriteBuilder =
    new GraftValuesWriteBuilder(opts + ("truncate" -> "true"), info)

  override def build(): Write = {
    val (_, session, array) = GraftTableProvider.open(opts)
    val node = session.node(array).getOrElse(
      throw new graft.repo.GraftException(s"no array at $array"))
    if (node.isRectilinear)
      throw new graft.repo.GraftException(
        "graft-v2 values writes require a regular chunk grid")
    val dtype = opts.getOrElse("dtype",
      throw new graft.repo.GraftException("dtype required for values write"))
    val expected = GraftTableProvider.valuesSchema(node.shape.size, dtype)
    val got = info.schema()
    val ndim = node.shape.size
    // provider-routed writes may append precomputed chunk-coord helper
    // columns `_c0.._cN` (= i_d div chunkShape(d)); they are plain field
    // references, so Spark clusters on them WITHOUT a FunctionCatalog —
    // the same whole-chunks-per-task plan the catalog route gets from its
    // chunk_coord transform
    val helperCols = (0 until ndim).map(d => s"_c$d")
    val helperClustered =
      got.fieldNames.toSeq == expected.fieldNames.toSeq ++ helperCols
    // row-level rewrites may carry the _chunk_ord metadata column along;
    // the writer indexes fields by name and simply never reads it
    val gotData = got.fieldNames.toSeq.filterNot(n =>
      rowLevel.isDefined && n == GraftTableProvider.ChunkOrdCol)
    if (!helperClustered && gotData != expected.fieldNames.toSeq)
      throw new graft.repo.GraftException(
        s"values write schema mismatch: got ${got.fieldNames.mkString(",")}" +
          s", expected ${expected.fieldNames.mkString(",")}" +
          s" (optionally + ${helperCols.mkString(",")})",
        kind = graft.repo.GraftError.SchemaMismatch)
    new GraftValuesWrite(opts, got, node.chunkShape, node.shape, dtype,
      opts.getOrElse("compression", "raw"), helperClustered,
      queryId = info.queryId(), rowLevel = rowLevel)
  }
}

/** Group-based (copy-on-write) row-level operation over a values table:
  * the GROUP is the CHUNK. Spark rewrites `UPDATE` / `MERGE INTO` into a
  * ReplaceData plan that (1) finds the chunks containing matching rows
  * via a `DISTINCT _chunk_ord` runtime subquery, (2) re-reads ONLY those
  * chunks through this operation's scan, and (3) writes every surviving
  * row back through the ordinary clustered values write — whole chunks
  * per task, one CAS commit. Chunks the operation scanned but the tasks
  * did not rewrite are tombstoned in the same commit.
  *
  * Row-level DELETE is refused: removing individual cells from a dense
  * array would silently zero-fill the survivors' chunk-mates. Chunk-
  * aligned DELETE keeps working through the metadata path
  * (`SupportsDelete`), which Spark's optimizer tries first.
  *
  * Reference analog: zarr-style in-place array edits are set_chunks over
  * affected chunks (store.rs:515); the copy-on-write group rewrite is
  * the same operation derived from a predicate instead of explicit
  * coordinates.
  */
class GraftRowLevelOperation(opts: Map[String, String],
                             cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  // every scan this operation builds; the one Spark group-filters at
  // runtime carries the replaced-group ordinals the commit needs
  @volatile private var scans: List[GraftScan] = Nil
  private[sources] def replacedOrds(): Option[Array[Long]] =
    scans.flatMap(_.runtimeOrds).headOption

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevel($cmd)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(opts, GraftTableProvider.schemaFor(opts),
      onBuild = s => synchronized { scans = s :: scans })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (cmd == RowLevelOperation.Command.DELETE)
      throw new graft.repo.GraftException(
        "row-level DELETE on a dense array would zero-fill the " +
          "surviving cells of partially-deleted chunks; only " +
          "chunk-aligned index ranges can be deleted (use a bounds " +
          "predicate on the index columns, or TRUNCATE)",
        kind = graft.repo.GraftError.Unsupported)
    new GraftValuesWriteBuilder(opts, info, rowLevel = Some(this))
  }

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftTableProvider.ChunkOrdCol))
}

class GraftValuesWrite(opts: Map[String, String], schema: StructType,
                       chunkShape: Seq[Long], shape: Seq[Long],
                       dtype: String, compression: String,
                       helperClustered: Boolean = false,
                       queryId: String = "",
                       rowLevel: Option[GraftRowLevelOperation] = None)
    extends Write with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}

  private val ndim = chunkShape.size
  /** Catalog-routed writes (INSERT INTO / saveAsTable through
    * [[GraftCatalog]]) carry a FunctionCatalog, so the distribution can
    * cluster on the real chunk coordinate (`chunk_coord` transform) —
    * every task gets whole chunks, nothing takes the leftover path.
    * Provider-routed writes (`df.write.format`) have no FunctionCatalog
    * and Spark translates only plain field references there; they get the
    * same whole-chunk plan by appending precomputed `_c0.._cN` chunk-coord
    * columns (`helperClustered`), and otherwise fall back to the
    * ordered-distribution stripe plan. The catalog INSERT (or the helper
    * columns) is the bulk-write path of record: at 100 TB the clustered
    * exchange is one hash shuffle sized by AQE, while the ordered plan
    * needs a global range sort whose partition count is capped by stripe
    * geometry.
    */
  private val viaCatalog = opts.get("via-catalog").contains("true")

  private def iSorts =
    (0 until ndim).map(d =>
      Expressions.sort(Expressions.column(s"i$d"),
        SortDirection.ASCENDING)).toArray
  private def chunkTransforms
      : Array[org.apache.spark.sql.connector.expressions.Expression] =
    (0 until ndim).map(d =>
      Expressions.apply(ChunkCoordFunction.Name,
        Expressions.column(s"i$d"),
        Expressions.literal(Long.box(chunkShape(d))))
        : org.apache.spark.sql.connector.expressions.Expression).toArray

  private def helperRefs
      : Array[org.apache.spark.sql.connector.expressions.Expression] =
    (0 until ndim).map(d =>
      Expressions.column(s"_c$d")
        : org.apache.spark.sql.connector.expressions.Expression).toArray

  override def requiredDistribution(): Distribution =
    if (viaCatalog) Distributions.clustered(chunkTransforms)
    else if (helperClustered) Distributions.clustered(helperRefs)
    else Distributions.ordered(iSorts)
  /** Clustered modes sort on the CLUSTER KEYS ONLY: the clustered
    * writer needs each chunk's rows contiguous (it flushes the open
    * chunk when the coord changes) but computes every cell's in-chunk
    * position from `i0..iN` directly, so intra-chunk row order is
    * irrelevant — appending `i0..iN` tiebreakers would double the sort
    * comparator's key evaluations for nothing. Ordered mode keeps the
    * full row-major sort (the stripe plan depends on it).
    */
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (viaCatalog)
      chunkTransforms.map(t => Expressions.sort(t, SortDirection.ASCENDING))
    else if (helperClustered)
      helperRefs.map(t => Expressions.sort(t, SortDirection.ASCENDING))
    else iSorts

  /** Ordered mode: tasks must span MANY chunk-row stripes — only a task's
    * first and last stripes take the leftover-merge path, so k stripes
    * per task puts (k−2)/k of the data on the direct stream-encode path.
    * Cap partitions at stripes/8 (≥75% direct) — when the array has far
    * more stripes than the cluster has slots (the 100 TB case) this is a
    * no-op and parallelism wins. Clustered mode needs no cap (0 = let
    * Spark/AQE size the exchange).
    */
  override def requiredNumPartitions(): Int =
    if (viaCatalog || helperClustered) 0
    else {
      val stripes = math.max(1L,
        (shape.head + chunkShape.head - 1) / chunkShape.head)
      val par = org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism
      math.max(1L, math.min(par.toLong, stripes / 8)).toInt
    }

  override def toBatch: BatchWrite =
    new GraftValuesBatchWrite(opts, schema, chunkShape, dtype, compression,
      helperClustered, shape = shape,
      rowLevel = rowLevel.map(op => () => op.replacedOrds()))

  /** Streaming values sink: one engine commit per micro-batch epoch via
    * the same staged-chunks machinery (the distribution/ordering above
    * applies per micro-batch).
    */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GraftStreamingWrite(opts, queryId,
      new GraftValuesBatchWrite(opts, schema, chunkShape, dtype, compression,
        helperClustered))

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftMetrics.ChunksUploaded, new GraftMetrics.BytesUploaded)
}

object GraftValuesBatchWrite {
  /** Ref rows for chunks a task completed itself. */
  val StagedSchema: StructType = StructType(Seq(
    StructField("coord", ArrayType(IntegerType, containsNull = false)),
    StructField("chunk_id", StringType),
    StructField("length", LongType)))

  /** Boundary-stripe cells deferred to the commit-time merge job. */
  def leftoverSchema(isInt: Boolean): StructType = StructType(Seq(
    StructField("coord", ArrayType(IntegerType, containsNull = false)),
    StructField("pos", LongType),
    StructField("value", if (isInt) LongType else DoubleType)))
}

/** One values-write task's output: completed-chunk refs + boundary cells
  * (either key is null when that side is empty).
  */
case class StagedValuesMessage(refsKey: String, refRows: Long,
                               leftoverKey: String, leftoverRows: Long)
  extends WriterCommitMessage

class GraftValuesBatchWrite(opts: Map[String, String], schema: StructType,
                            chunkShape: Seq[Long], dtype: String,
                            compression: String,
                            helperClustered: Boolean = false,
                            shape: Seq[Long] = Nil,
                            rowLevel: Option[() => Option[Array[Long]]] = None)
    extends GraftEpochCommittable {
  import org.apache.spark.sql.functions.{col, lit}
  private val stagingRoot = graft.meta.Layout.stagingPrefix(
    graft.core.Ids.toBase32(graft.core.Ids.newObjectId()))
  private val isInt = ChunkCodec.IntDtypes.contains(dtype)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val (repo, _, _) = GraftTableProvider.open(opts)
    new GraftValuesWriterFactory(repo.store.conf, stagingRoot, schema,
      chunkShape.toArray, dtype, compression,
      clustered = helperClustered ||
        opts.get("via-catalog").contains("true"))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitWithProps(messages, Map.empty)

  /** Same commit, stamping `props` onto the snapshot (the streaming
    * adapter records its epoch marker this way).
    */
  def commitWithProps(messages: Array[WriterCommitMessage],
                      props: Map[String, String]): Unit = {
    val (repo, _, array) = GraftTableProvider.open(opts)
    val spark = org.apache.spark.sql.SparkSession.active
    val session = repo.writableSession(opts.getOrElse("branch", "main"))
    val msgs = messages.collect { case m: StagedValuesMessage => m }
    val refKeys = msgs.filter(m => m.refsKey != null && m.refRows > 0)
      .map(_.refsKey)
    val leftKeys = msgs.filter(m => m.leftoverKey != null && m.leftoverRows > 0)
      .map(_.leftoverKey)
    // boundary chunks: one small shuffle job assembles the cells that
    // range partitioning cut across tasks (O(tasks × stripe) cells)
    val cells = chunkShape.product.toInt
    val conf = repo.store.conf
    val mergedRefs =
      if (leftKeys.isEmpty) None
      else {
        import spark.implicits._
        val left = spark.read
          .schema(GraftValuesBatchWrite.leftoverSchema(isInt))
          .parquet(leftKeys.map(repo.store.uri).toSeq: _*)
          .repartition(spark.sparkContext.defaultParallelism, col("coord"))
          .sortWithinPartitions("coord", "pos")
          .toDF("_1", "_2", "_3")
        val comp = compression
        val dt = dtype
        import graft.tensor.TensorPlane.{streamEncode, uploadChunks}
        Some(
          if (isInt)
            uploadChunks(left.as[(Seq[Int], Long, Long)], conf)(
              streamEncode[Seq[Int], Long](_, identity,
                _ => new Array[Long](cells), (a, p, v) => a(p) = v,
                a => ChunkCodec.compress(ChunkCodec.encodeLongs(a, dt), comp)))
          else
            uploadChunks(left.as[(Seq[Int], Long, Double)], conf)(
              streamEncode[Seq[Int], Double](_, identity,
                _ => new Array[Double](cells), (a, p, v) => a(p) = v,
                a => ChunkCodec.compress(ChunkCodec.encodeDoubles(a, dt),
                  comp))))
      }
    val directRefs =
      if (refKeys.isEmpty) None
      else Some(spark.read.schema(GraftValuesBatchWrite.StagedSchema)
        .parquet(refKeys.map(repo.store.uri).toSeq: _*))
    val allRefs = (directRefs, mergedRefs) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    // INSERT OVERWRITE: the same commit also tombstones every existing
    // chunk the new data does not rewrite (plan captured BEFORE staging,
    // so it sees only the committed state)
    val truncate = opts.get("truncate").contains("true")
    // Row-level UPDATE/MERGE (ReplaceData): the REPLACED GROUPS are the
    // chunks the operation scanned — the runtime group filter's ordinal
    // set when it ran, every chunk when it did not. A replaced chunk the
    // tasks did not rewrite (e.g. every cell merge-deleted) gets a
    // tombstone in the same commit, mirroring the truncate path.
    val replacedOrds: Option[Option[Array[Long]]] = rowLevel.map(_())
    def chunkOrdCol: org.apache.spark.sql.Column = {
      val gs = GraftTableProvider.gridStrides(shape, chunkShape)
      (0 until chunkShape.size).map(d =>
        col("coord").getItem(d).cast("long") * lit(gs(d))).reduce(_ + _)
    }
    def ordsDf(ords: Array[Long]): org.apache.spark.sql.DataFrame =
      org.apache.spark.sql.functions.broadcast(
        spark.createDataset(ords.toSeq)(
          org.apache.spark.sql.Encoders.scalaLong).toDF("_ord"))
    val priorCoords =
      if (truncate) Some(session.refs(array).select(col("coord")))
      else replacedOrds.map {
        case None => session.refs(array).select(col("coord"))
        case Some(ords) =>
          session.refs(array).select(col("coord"))
            .withColumn("_ord", chunkOrdCol)
            .join(ordsDf(ords), Seq("_ord"), "left_semi")
            .select(col("coord"))
      }
    // the cache must OUTLIVE the commit: the staged batches are lazy and
    // flush re-evaluates them — with the cache dropped, the boundary-
    // chunk merge job (a side-effecting mapPartitions that encodes and
    // UPLOADS chunks) would run again and strand fresh orphan objects
    val cachedRefs = allRefs.map(_.cache())
    try {
      cachedRefs match {
        case Some(cached) =>
          // cross-task duplicate guard: user-supplied `_c0.._cN` helper
          // columns are trusted for clustering but never re-derived
          // row-by-row (that would defeat their purpose), so a
          // MIS-computed helper can spread one true chunk's rows over
          // several tasks — each uploads a partial fill-0 chunk for the
          // same coord, which the per-task flushedCoords guard cannot
          // see. One staged-ref row exists per uploaded chunk (not per
          // cell), so this duplicate check is a tiny aggregation over
          // chunk-count rows; failing loudly here beats last-wins
          // silently keeping one partial chunk (data loss).
          val dup = cached.groupBy(col("coord"))
            .count().filter(col("count") > 1).limit(5)
            .collect()
          if (dup.nonEmpty)
            throw new graft.repo.GraftException(
              "values write produced the same chunk coord from multiple " +
                "tasks (mis-computed _c0.._cN helper columns, or the " +
                "required clustering was not applied): " +
                dup.map(_.get(0)).mkString(", "),
              kind = graft.repo.GraftError.WriteNotClustered)
          // Row-level guard: a MERGE insert whose cells land in an
          // EXISTING chunk the operation did not scan would replace that
          // chunk with a partial fill-0 one (the scan never read its
          // other cells) — data loss. Refuse loudly; the fix is an ON
          // condition that covers the target chunks, or a plain INSERT
          // of whole chunks. Chunk-count-sized joins, not data-sized.
          replacedOrds.flatten.foreach { ords =>
            val offenders = cached.select(col("coord"))
              .withColumn("_ord", chunkOrdCol)
              .join(ordsDf(ords), Seq("_ord"), "left_anti")
              .join(session.refs(array).select(col("coord")),
                Seq("coord"), "left_semi")
              .limit(5).collect()
            if (offenders.nonEmpty)
              throw new graft.repo.GraftException(
                "row-level write touches existing chunks outside the " +
                  "scanned groups (a MERGE insert into a chunk the ON " +
                  "condition did not match): " +
                  offenders.map(_.get(0)).mkString(", ") +
                  " — widen the ON condition or insert whole chunks",
                kind = graft.repo.GraftError.WriteNotClustered)
          }
          priorCoords.foreach { prior =>
            session.stageChunkRefs(array,
              prior.join(cached.select(col("coord")), Seq("coord"),
                "left_anti")
                .withColumn("kind", lit(graft.meta.ChunkRef.KindDelete)))
          }
          session.trackStaging(stagingRoot)
          session.stageChunkRefs(array, cached
            .withColumn("kind", lit(graft.meta.ChunkRef.KindRef))
            .withColumn("offset", lit(0L)))
        case None =>
          // empty overwrite input = clear the array
          priorCoords.foreach(prior => session.stageChunkRefs(array,
            prior.withColumn("kind", lit(graft.meta.ChunkRef.KindDelete))))
      }
      session.commit(opts.getOrElse("message", s"v2 values write $array"),
        properties = props, allowEmpty = true)
    } finally cachedRefs.foreach(_.unpersist())
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // staged parquet dies here; already-uploaded chunk objects are
    // unreferenced orphans, reclaimed by GC (the refs-mode abort policy)
    val (repo, _, _) = GraftTableProvider.open(opts)
    repo.store.deletePrefix(stagingRoot)
  }
}

class GraftValuesWriterFactory(storeConf: StoreConf, stagingRoot: String,
                               schema: StructType, chunkShape: Array[Long],
                               dtype: String, compression: String,
                               clustered: Boolean)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftValuesDataWriter(storeConf, stagingRoot, schema, chunkShape,
      dtype, compression, partitionId, taskId, clustered)
}

/** Streams one task's row-major-ordered (i0..iN, value) run, stripe at a
  * time (stripe = leading-dim chunk row, monotone under the sort):
  *
  *  - interior stripes are whole to this task (the range is contiguous),
  *    so each stripe's chunks fill dense buffers and encode+upload as
  *    soon as the stripe closes — memory is one stripe of chunk buffers
  *    plus per-chunk written-cell bitsets;
  *  - the FIRST and LAST stripes may be cut by a range boundary, so
  *    their written cells (bitset-tracked — fill zeros are never
  *    confused with written zeros) are emitted to the leftover Parquet
  *    for the commit-time merge.
  *
  * Cells absent from the input keep fill value 0; duplicate cell writes
  * are last-wins (matching [[graft.tensor.TensorPlane.writeValues]]).
  */
class GraftValuesDataWriter(storeConf: StoreConf, stagingRoot: String,
                            schema: StructType, chunkShape: Array[Long],
                            dtype: String, compression: String,
                            partitionId: Int, taskId: Long,
                            clustered: Boolean = false)
    extends DataWriter[InternalRow] {
  private val ndim = chunkShape.length
  private val strides: Array[Long] = {
    val s = new Array[Long](ndim)
    s(ndim - 1) = 1
    var d = ndim - 2
    while (d >= 0) { s(d) = s(d + 1) * chunkShape(d + 1); d -= 1 }
    s
  }
  private val cells = chunkShape.product.toInt
  private val isInt = ChunkCodec.IntDtypes.contains(dtype)
  private val idxCols = Array.tabulate(ndim)(d => schema.fieldIndex(s"i$d"))
  private val valueCol = schema.fieldIndex("value")
  private val valueIsLong = schema.fields(valueCol).dataType == LongType

  private final class OpenChunk {
    val bufL: Array[Long] = if (isInt) new Array[Long](cells) else null
    val bufD: Array[Double] = if (!isInt) new Array[Double](cells) else null
    val written = new java.util.BitSet(cells)
  }
  private val open =
    scala.collection.mutable.LinkedHashMap[Seq[Int], OpenChunk]()
  // clustered mode only: coords already flushed by this task (guards
  // against a mis-applied clustering re-opening a flushed chunk)
  private val flushedCoords = scala.collection.mutable.HashSet[Seq[Int]]()
  private var curStripe = Long.MinValue
  private var firstStripe = Long.MinValue
  private var refWriter: GraftRefWriter = null
  private var leftWriter: GraftRefWriter = null
  private var refRows = 0L
  private var leftRows = 0L
  private var bytesUploaded = 0L
  private lazy val store = StoreConf.cached(storeConf)

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new GraftMetrics.Task("graftChunksUploaded", refRows),
      new GraftMetrics.Task("graftBytesUploaded", bytesUploaded))

  override def write(row: InternalRow): Unit = {
    val coord = new Array[Int](ndim)
    var pos = 0L
    var d = 0
    while (d < ndim) {
      val i = row.getLong(idxCols(d))
      coord(d) = (i / chunkShape(d)).toInt
      pos += (i % chunkShape(d)) * strides(d)
      d += 1
    }
    val key = scala.collection.immutable.ArraySeq.unsafeWrapArray(coord)
    if (clustered) {
      // chunk-coord clustering + ordering: whole chunks, contiguous — a
      // coord change means the open chunk is complete, flush it directly.
      // A coord recurring AFTER its flush means the required clustering
      // was not applied: failing loudly beats silently uploading the
      // same chunk twice as two partial fill-0 chunks (data corruption).
      if (flushedCoords.contains(key))
        throw new IllegalStateException(
          s"values write input not clustered by chunk_coord: chunk " +
            s"$key reappeared after it was flushed (Spark's required " +
            "distribution was not applied?)")
      if (open.nonEmpty && !open.contains(key))
        closeStripe(asLeftover = false)
    } else {
      val stripe = coord(0).toLong
      if (curStripe == Long.MinValue) { curStripe = stripe; firstStripe = stripe }
      else if (stripe < curStripe)
        throw new IllegalStateException(
          s"values write input not row-major ordered: stripe $stripe after " +
            s"$curStripe (Spark's required ordering was not applied?)")
      else if (stripe > curStripe) {
        closeStripe(asLeftover = curStripe == firstStripe)
        curStripe = stripe
      }
    }
    val oc = open.getOrElseUpdate(key, new OpenChunk)
    val p = pos.toInt
    if (isInt)
      oc.bufL(p) =
        if (valueIsLong) row.getLong(valueCol)
        else row.getDouble(valueCol).toLong
    else
      oc.bufD(p) =
        if (valueIsLong) row.getLong(valueCol).toDouble
        else row.getDouble(valueCol)
    oc.written.set(p)
  }

  private def ensureWriters(): Unit = {
    if (refWriter == null) {
      refWriter = new GraftRefWriter(storeConf,
        s"$stagingRoot/refs", GraftValuesBatchWrite.StagedSchema,
        partitionId, taskId)
      leftWriter = new GraftRefWriter(storeConf,
        s"$stagingRoot/left", GraftValuesBatchWrite.leftoverSchema(isInt),
        partitionId, taskId)
    }
  }

  private def closeStripe(asLeftover: Boolean): Unit = {
    ensureWriters()
    open.foreach { case (coord, oc) =>
      val coordArr = new GenericArrayData(coord.toArray)
      if (asLeftover) {
        var p = oc.written.nextSetBit(0)
        while (p >= 0) {
          val v: Any = if (isInt) oc.bufL(p) else oc.bufD(p)
          leftWriter.write(new GenericInternalRow(
            Array[Any](coordArr, p.toLong, v)))
          leftRows += 1
          p = oc.written.nextSetBit(p + 1)
        }
      } else {
        val encoded = ChunkCodec.compress(
          if (isInt) ChunkCodec.encodeLongs(oc.bufL, dtype)
          else ChunkCodec.encodeDoubles(oc.bufD, dtype), compression)
        val id = graft.meta.Layout.publishChunk(store, encoded)
        refWriter.write(new GenericInternalRow(Array[Any](
          coordArr, UTF8String.fromString(id), encoded.length.toLong)))
        refRows += 1
        bytesUploaded += encoded.length
        if (clustered) flushedCoords += coord
      }
    }
    open.clear()
  }

  override def commit(): WriterCommitMessage = {
    // ordered mode: the last stripe can be cut by the next task's range —
    // always defer it; clustered mode: chunks are whole, flush direct
    if (open.nonEmpty || curStripe != Long.MinValue)
      closeStripe(asLeftover = !clustered)
    if (refWriter == null)
      return StagedValuesMessage(null, 0L, null, 0L)
    val refMsg = refWriter.commit().asInstanceOf[StagedRefsMessage]
    val leftMsg = leftWriter.commit().asInstanceOf[StagedRefsMessage]
    StagedValuesMessage(refMsg.stagingKey, refRows,
      leftMsg.stagingKey, leftRows)
  }

  override def abort(): Unit = {
    if (refWriter != null) { refWriter.abort(); leftWriter.abort() }
  }
  override def close(): Unit = ()
}

/** Structured-Streaming sink (`df.writeStream.format("graft-v2")`): one
  * engine commit per micro-batch epoch through the SAME staged-write
  * machinery as the batch path — executors stage Parquet/chunk objects,
  * the epoch commit stages them on a session and runs one CAS commit.
  *
  * Exactly-once: every epoch commit stamps `(graft.stream.query,
  * graft.stream.epoch)` snapshot properties; a replayed epoch (restart
  * re-runs the last possibly-uncommitted batch) is detected by a bounded
  * newest-first ancestry walk and skipped. This is the commit-per-batch
  * + transaction-marker protocol of the reference's incremental append
  * workflow (SURVEY §2.9) in DSv2 form — no library code needed at the
  * call site.
  */
class GraftStreamingWrite(opts: Map[String, String], queryId: String,
                          inner: GraftEpochCommittable)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val batchFactory = inner.createBatchWriterFactory(info)
    // task ids are unique across epochs within an app run, and each
    // restart builds a fresh StreamingWrite (fresh staging root), so the
    // batch factory's (partitionId, taskId) keys never collide
    new GraftStreamingWriterFactory(batchFactory)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val (repo, _, _) = GraftTableProvider.open(opts)
    val branch = opts.getOrElse("branch", "main")
    val replayed = GraftStreamingWrite
      .lastEpoch(repo, branch, queryId).exists(_ >= epochId)
    if (replayed) {
      // this epoch's commit already landed — but the REPLAY's tasks
      // re-staged parquet (and values chunks) that nothing will read;
      // abort deletes the staged prefix rather than stranding it for GC
      inner.abort(messages)
      return
    }
    inner.commitWithProps(messages, Map(
      GraftStreamingWrite.QueryProp -> queryId,
      GraftStreamingWrite.EpochProp -> epochId.toString))
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    inner.abort(messages)
}

object GraftStreamingWrite {
  val QueryProp = "graft.stream.query"
  val EpochProp = "graft.stream.epoch"

  /** The most recent epoch `queryId` committed on `branch`, from a
    * bounded newest-first ancestry walk (the marker is almost always at
    * or near the tip — a replay happens right after the original). A
    * marker deeper than `maxDepth` means >64 other commits landed since
    * this query's last batch; the walk gives up and the epoch commits
    * (at-least-once for that pathological interleaving, never silent
    * loss).
    */
  def lastEpoch(repo: Repository, branch: String, queryId: String,
                maxDepth: Int = 64): Option[Long] =
    repo.ancestry(VersionRef.Branch(branch)).iterator.take(maxDepth)
      .map(si => repo.assets.readSnapshot(si.id))
      .collectFirst {
        case s if s.properties.get(QueryProp).contains(queryId) =>
          s.properties(EpochProp).toLong
      }
}

/** Streaming writer factory: epoch-agnostic delegation to the batch
  * factory (staging keys are already unique per task attempt).
  */
class GraftStreamingWriterFactory(inner: DataWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    inner.createWriter(partitionId, taskId)
}

class GraftRefWriterFactory(storeConf: StoreConf, stagingRoot: String,
                            schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftRefWriter(storeConf, stagingRoot, schema, partitionId, taskId)
}

/** Writes one task's ref rows as a single Parquet object via parquet-mr
  * over the store (standard 3-level list encoding, readable by Spark).
  */
class GraftRefWriter(storeConf: StoreConf, stagingRoot: String,
                     schema: StructType, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.parquet.schema.LogicalTypeAnnotation

  private val key = s"$stagingRoot/part-$partitionId-$taskId.parquet"
  private val messageType: MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType => b.addField(Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case BinaryType => b.addField(Types.optional(BINARY).named(f.name))
        case IntegerType => b.addField(Types.optional(INT32).named(f.name))
        case LongType => b.addField(Types.optional(INT64).named(f.name))
        case DoubleType => b.addField(Types.optional(DOUBLE).named(f.name))
        case ArrayType(IntegerType, _) =>
          b.addField(Types.optionalList()
            .element(Types.optional(INT32).named("element"))
            .named(f.name))
        case other => throw new graft.repo.GraftException(
          s"unsupported ref column type $other for ${f.name}")
      }
    }
    b.named("graft_refs")
  }

  private val buffer = new java.io.ByteArrayOutputStream(1 << 20)
  private val writer = {
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.ParquetFileWriter
    val out = new org.apache.parquet.io.OutputFile {
      override def create(blockSizeHint: Long) = newStream()
      override def createOrOverwrite(blockSizeHint: Long) = newStream()
      override def supportsBlockSize(): Boolean = false
      override def defaultBlockSize(): Long = 0
      private def newStream() =
        new org.apache.parquet.io.DelegatingPositionOutputStream(buffer) {
          private var p = 0L
          override def getPos: Long = p
          override def write(b: Int): Unit = { buffer.write(b); p += 1 }
          override def write(b: Array[Byte]): Unit =
            { buffer.write(b); p += b.length }
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            { buffer.write(b, off, len); p += len }
        }
    }
    val conf = new Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(
      messageType, conf)
    ExampleParquetWriter.builder(out)
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withType(messageType)
      .build()
  }
  private val factory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(messageType)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) f.dataType match {
        case StringType => g.append(f.name, row.getUTF8String(i).toString)
        case BinaryType => g.append(f.name,
          org.apache.parquet.io.api.Binary.fromConstantByteArray(
            row.getBinary(i)))
        case IntegerType => g.append(f.name, row.getInt(i))
        case LongType => g.append(f.name, row.getLong(i))
        case DoubleType => g.append(f.name, row.getDouble(i))
        case ArrayType(IntegerType, _) =>
          val list = g.addGroup(f.name)
          val arr = row.getArray(i)
          var j = 0
          while (j < arr.numElements()) {
            list.addGroup("list").append("element", arr.getInt(j))
            j += 1
          }
        case other => ()
      }
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    StoreConf.cached(storeConf).putBytes(key, buffer.toByteArray)
    StagedRefsMessage(key, rows)
  }

  override def abort(): Unit = writer.close()
  override def close(): Unit = ()
}
