package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Chunk codec pipeline — the one place this engine goes beyond the
  * reference: icechunk never decodes chunk bytes (codecs live in
  * zarr-python; `user_data` stays opaque — SURVEY §1.2), but a Spark
  * engine can turn chunks into queryable value columns. Decode =
  * decompress (raw | zstd | gzip) + little-endian dtype reinterpret,
  * as a native expression so the hot loop stays in the JVM.
  */
object ChunkCodec {
  val IntDtypes = Set("int8", "int16", "int32", "int64")
  val FloatDtypes = Set("float32", "float64")

  /** Bytes per element of a dtype. Unknown names throw — a typo that
    * silently mapped to 8 bytes would cut payload buffers at the wrong
    * byte offset downstream (concat tail truncation).
    */
  def dtypeWidth(dtype: String): Int = dtype match {
    case "int8" => 1
    case "int16" => 2
    case "int32" | "float32" => 4
    case "int64" | "float64" => 8
    case other => throw new IllegalArgumentException(
      s"unknown dtype '$other' (expected one of ${
        (IntDtypes ++ FloatDtypes).toSeq.sorted.mkString(", ")})")
  }

  def decompress(bytes: Array[Byte], compression: String): Array[Byte] =
    compression match {
      case "raw" | null | "" => bytes
      case "zstd" =>
        val size = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
        com.github.luben.zstd.Zstd.decompress(bytes, size.toInt)
      case "gzip" =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try in.readAllBytes() finally in.close()
      case other =>
        throw new IllegalArgumentException(s"unknown compression: $other")
    }

  def compress(bytes: Array[Byte], compression: String): Array[Byte] =
    compression match {
      case "raw" | null | "" => bytes
      case "zstd" => com.github.luben.zstd.Zstd.compress(bytes, 3)
      case "gzip" =>
        val bos = new java.io.ByteArrayOutputStream()
        val out = new java.util.zip.GZIPOutputStream(bos)
        out.write(bytes); out.close()
        bos.toByteArray
      case other =>
        throw new IllegalArgumentException(s"unknown compression: $other")
    }

  /** Encode a numeric array to little-endian raw bytes (the write-side
    * codec; used by tests and the value-plane sink).
    */
  def encodeLongs(values: Array[Long], dtype: String): Array[Byte] = {
    val bb = dtype match {
      case "int8" => val b = ByteBuffer.allocate(values.length)
        values.foreach(v => b.put(v.toByte)); b
      case "int16" => val b = ByteBuffer.allocate(values.length * 2)
        .order(ByteOrder.LITTLE_ENDIAN)
        values.foreach(v => b.putShort(v.toShort)); b
      case "int32" => val b = ByteBuffer.allocate(values.length * 4)
        .order(ByteOrder.LITTLE_ENDIAN)
        values.foreach(v => b.putInt(v.toInt)); b
      case "int64" =>
        // bulk view transfer: the JDK intrinsifies LongBuffer.put(long[])
        // over a heap view (per-element putLong pays a bounds check +
        // virtual call per value — measurable on 134M-cell chunk jobs)
        val b = ByteBuffer.allocate(values.length * 8)
          .order(ByteOrder.LITTLE_ENDIAN)
        b.asLongBuffer().put(values); b
    }
    bb.array()
  }

  def encodeDoubles(values: Array[Double], dtype: String): Array[Byte] = {
    val bb = dtype match {
      case "float32" => val b = ByteBuffer.allocate(values.length * 4)
        .order(ByteOrder.LITTLE_ENDIAN)
        values.foreach(v => b.putFloat(v.toFloat)); b
      case "float64" =>
        val b = ByteBuffer.allocate(values.length * 8)
          .order(ByteOrder.LITTLE_ENDIAN)
        b.asDoubleBuffer().put(values); b
    }
    bb.array()
  }

  /** Decode raw little-endian bytes into a primitive long array — the
    * task-side twin of [[DecodeChunkExpr]] for kernels that operate on
    * whole chunk buffers (rechunk's block copies) rather than columns.
    */
  def decodeLongs(raw: Array[Byte], dtype: String): Array[Long] = {
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    dtype match {
      case "int8" => Array.tabulate(raw.length)(i => bb.get(i).toLong)
      case "int16" =>
        Array.tabulate(raw.length / 2)(i => bb.getShort(i * 2).toLong)
      case "int32" =>
        Array.tabulate(raw.length / 4)(i => bb.getInt(i * 4).toLong)
      case "int64" =>
        // bulk view transfer (see encodeLongs): one intrinsified copy
        // instead of a per-element absolute get + closure call
        val out = new Array[Long](raw.length / 8)
        bb.asLongBuffer().get(out); out
      case other =>
        throw new IllegalArgumentException(s"not an int dtype: $other")
    }
  }

  def decodeDoubles(raw: Array[Byte], dtype: String): Array[Double] = {
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    dtype match {
      case "float32" =>
        Array.tabulate(raw.length / 4)(i => bb.getFloat(i * 4).toDouble)
      case "float64" =>
        val out = new Array[Double](raw.length / 8)
        bb.asDoubleBuffer().get(out); out
      case other =>
        throw new IllegalArgumentException(s"not a float dtype: $other")
    }
  }
}

/** Decode chunk bytes into a numeric array column: ARRAY<BIGINT> for
  * integer dtypes, ARRAY<DOUBLE> for float dtypes.
  */
case class DecodeChunkExpr(child: Expression, dtype: String,
                           compression: String)
    extends UnaryExpression with CodegenFallback {
  ChunkCodec.dtypeWidth(dtype) // refuse at plan time, not in a task
  override def dataType: DataType =
    if (ChunkCodec.IntDtypes.contains(dtype))
      ArrayType(LongType, containsNull = false)
    else ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val raw = ChunkCodec.decompress(input.asInstanceOf[Array[Byte]],
      compression)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    dtype match {
      case "int8" =>
        new GenericArrayData(Array.tabulate(raw.length)(i => bb.get(i).toLong))
      case "int16" =>
        new GenericArrayData(
          Array.tabulate(raw.length / 2)(i => bb.getShort(i * 2).toLong))
      case "int32" =>
        new GenericArrayData(
          Array.tabulate(raw.length / 4)(i => bb.getInt(i * 4).toLong))
      case "int64" =>
        val out = new Array[Long](raw.length / 8)
        bb.asLongBuffer().get(out) // bulk view transfer (see decodeLongs)
        new GenericArrayData(out)
      case "float32" =>
        new GenericArrayData(
          Array.tabulate(raw.length / 4)(i => bb.getFloat(i * 4).toDouble))
      case "float64" =>
        val out = new Array[Double](raw.length / 8)
        bb.asDoubleBuffer().get(out)
        new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): DecodeChunkExpr =
    copy(child = c)
}

/** Per-chunk reduction without exploding to rows: decode + one tight loop
  * → struct(count, sum, min, max). 1 GiB of int64 reduces in ~1 s where
  * the row-explode path pays per-element generator overhead. The loop is
  * [[SliceGeom.Stats]], run once over the whole buffer (padding cells of
  * partial edge chunks included).
  */
case class ChunkStatsExpr(child: Expression, dtype: String,
                          compression: String)
    extends UnaryExpression with CodegenFallback {
  private val width = ChunkCodec.dtypeWidth(dtype) // refuse at plan time
  override def dataType: DataType = SliceGeom.StatsType

  override def nullSafeEval(input: Any): Any = {
    val raw = ChunkCodec.decompress(input.asInstanceOf[Array[Byte]],
      compression)
    val st = new SliceGeom.Stats
    st.addRun(ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN), dtype, 0,
      raw.length / width)
    st.row
  }

  override protected def withNewChildInternal(c: Expression): ChunkStatsExpr =
    copy(child = c)
}

/** Per-chunk fixed-width histogram without exploding to rows: decode +
  * one tight loop → ARRAY<BIGINT> of `nbins + 2` counts
  * (`[underflow, bin_0..bin_{nbins-1}, overflow]` over `[lo, hi)`).
  * The rollup over chunks is an elementwise sum of tiny arrays — the
  * whole distribution sketch of a 100 TB array moves
  * `chunks × (nbins+2)` longs, never cells. Partial edge chunks
  * contribute their fill cells.
  */
case class ChunkHistogramExpr(child: Expression, dtype: String,
                              compression: String, lo: Double, hi: Double,
                              nbins: Int)
    extends UnaryExpression with CodegenFallback {
  require(nbins > 0 && nbins <= (1 << 20), s"bad nbins $nbins")
  require(hi > lo, s"bad histogram range [$lo, $hi)")
  ChunkCodec.dtypeWidth(dtype) // refuse at plan time, not in a task
  override def dataType: DataType = ArrayType(LongType,
    containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val raw = ChunkCodec.decompress(input.asInstanceOf[Array[Byte]],
      compression)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val counts = new Array[Long](nbins + 2)
    val width = (hi - lo) / nbins
    @inline def acc(v: Double): Unit = {
      if (v < lo) counts(0) += 1
      else if (v >= hi) counts(nbins + 1) += 1
      else {
        // clamp: v == hi - ulp can floor to nbins under fp division
        val b = math.min(((v - lo) / width).toInt, nbins - 1)
        counts(b + 1) += 1
      }
    }
    dtype match {
      case "int8" => var i = 0; while (i < raw.length) { acc(bb.get(i)); i += 1 }
      case "int16" => var i = 0
        while (i < raw.length / 2) { acc(bb.getShort(i * 2)); i += 1 }
      case "int32" => var i = 0
        while (i < raw.length / 4) { acc(bb.getInt(i * 4)); i += 1 }
      case "int64" => var i = 0
        while (i < raw.length / 8) { acc(bb.getLong(i * 8).toDouble); i += 1 }
      case "float32" => var i = 0
        while (i < raw.length / 4) { acc(bb.getFloat(i * 4)); i += 1 }
      case "float64" => var i = 0
        while (i < raw.length / 8) { acc(bb.getDouble(i * 8)); i += 1 }
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(
      c: Expression): ChunkHistogramExpr = copy(child = c)
}

/** Per-chunk downsample partials WITHOUT exploding source cells: decode
  * + one pass accumulating into the chunk's DESTINATION-space footprint,
  * emitting one `(dl, sum, cnt)` row per destination cell this chunk
  * touches (`dl` = row-major linear index in the coarse array). Row
  * machinery scales with the DESTINATION volume (source/∏factors); the
  * cross-chunk combine is a plain groupBy over those partials. `stride`
  * mode keeps only exact sample points (`g_i % k_i == 0`), so cnt is
  * 0/1 and sum IS the sampled value.
  */
case class DownsampleChunkExpr(left: Expression, right: Expression,
                               dtype: String, compression: String,
                               chunkShape: Seq[Long], shape: Seq[Long],
                               factors: Seq[Int], mode: String,
                               rectStarts: Seq[Seq[Long]] = Nil,
                               rectSizes: Seq[Seq[Long]] = Nil)
    extends BinaryExpression with CodegenFallback {
  require(mode == "mean" || mode == "stride", s"unknown mode $mode")
  require(factors.forall(_ >= 1), s"bad factors $factors")
  require(ChunkCodec.IntDtypes.contains(dtype) ||
    ChunkCodec.FloatDtypes.contains(dtype), s"unknown dtype $dtype")
  require(rectStarts.isEmpty == rectSizes.isEmpty,
    "rectStarts and rectSizes come together")
  // rectilinear geometry: per-dim (start, extent) lookup tables indexed
  // by chunk coord — buffers are EXACT-extent (no padding), unlike the
  // padded regular convention
  @transient private lazy val rStarts: Array[Array[Long]] =
    rectStarts.map(_.toArray).toArray
  @transient private lazy val rSizes: Array[Array[Long]] =
    rectSizes.map(_.toArray).toArray
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bytes = left.eval(input).asInstanceOf[Array[Byte]]
    val coordRaw = right.eval(input)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (bytes == null) return new GenericArrayData(Array.empty[Any])
    val nd = shape.size // rank from the array shape: rect nodes may
                        // carry an empty chunkShape
    val coord = Array.tabulate(nd)(coordRaw.getInt)
    val raw = ChunkCodec.decompress(bytes, compression)
    val isInt = ChunkCodec.IntDtypes.contains(dtype)
    val vals: Int => Double = {
      val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      dtype match {
        case "int8" => i => bb.get(i).toDouble
        case "int16" => i => bb.getShort(i * 2).toDouble
        case "int32" => i => bb.getInt(i * 4).toDouble
        case "int64" => i => bb.getLong(i * 8).toDouble
        case "float32" => i => bb.getFloat(i * 4).toDouble
        case "float64" => i => bb.getDouble(i * 8)
      }
    }
    val width = dtype match {
      case "int8" => 1; case "int16" => 2
      case "int32" | "float32" => 4; case _ => 8
    }
    val nCells = raw.length / width
    // chunk-local buffer geometry + the chunk's destination footprint;
    // rect grids look base/extent up from the tables (exact buffers),
    // regular grids derive them from the uniform chunk shape (padded)
    val isRect = rectStarts.nonEmpty
    val base =
      if (isRect) Array.tabulate(nd)(i => rStarts(i)(coord(i)))
      else Array.tabulate(nd)(i => coord(i).toLong * chunkShape(i))
    val ext =
      if (isRect) Array.tabulate(nd)(i => rSizes(i)(coord(i)))
      else chunkShape.toArray
    val dstShape = Array.tabulate(nd)(i =>
      (shape(i) + factors(i) - 1) / factors(i))
    val dstStride = new Array[Long](nd)
    dstStride(nd - 1) = 1
    for (i <- (nd - 2) to 0 by -1)
      dstStride(i) = dstStride(i + 1) * dstShape(i + 1)
    val footLo = Array.tabulate(nd)(i => base(i) / factors(i))
    val footHi = Array.tabulate(nd)(i =>
      math.min((math.min(base(i) + ext(i), shape(i)) - 1)
        / factors(i), dstShape(i) - 1))
    val footExt = Array.tabulate(nd)(i => (footHi(i) - footLo(i) + 1).toInt)
    val footCells = footExt.product
    if (footCells <= 0) return new GenericArrayData(Array.empty[Any])
    val footStride = new Array[Int](nd)
    footStride(nd - 1) = 1
    for (i <- (nd - 2) to 0 by -1)
      footStride(i) = footStride(i + 1) * footExt(i + 1)
    val sums = new Array[Double](footCells)
    val cnts = new Array[Long](footCells)
    // odometer over in-chunk cells; track global + destination indices
    // incrementally (no per-cell div)
    val g = base.clone()
    val rem = new Array[Int](nd) // g_i % factors(i)
    val d = new Array[Long](nd)
    for (i <- 0 until nd) { d(i) = base(i) / factors(i); rem(i) = (base(i) % factors(i)).toInt }
    val chunkCells = ext.product.toInt
    var pos = 0
    val limit = math.min(nCells, chunkCells)
    val isMean = mode == "mean" // hoisted: a per-cell String.equals was
                                // ~0.5 s/GiB in the 134M-cell loop
    while (pos < limit) {
      var inBounds = true
      var i = 0
      while (i < nd) { if (g(i) >= shape(i)) { inBounds = false; i = nd }; i += 1 }
      if (inBounds) {
        val keep = isMean || {
          var ok = true; var j = 0
          while (j < nd) { if (rem(j) != 0) { ok = false; j = nd }; j += 1 }
          ok
        }
        if (keep) {
          var f = 0; var k = 0
          while (k < nd) {
            f = f * footExt(k) + (d(k) - footLo(k)).toInt; k += 1
          }
          sums(f) += vals(pos); cnts(f) += 1
        }
      }
      // increment the innermost dim, with carry
      pos += 1
      var dim = nd - 1
      var carry = true
      while (carry && dim >= 0) {
        g(dim) += 1
        rem(dim) += 1
        if (rem(dim) == factors(dim)) { rem(dim) = 0; d(dim) += 1 }
        if (g(dim) < base(dim) + ext(dim)) carry = false
        else {
          g(dim) = base(dim); d(dim) = base(dim) / factors(dim)
          rem(dim) = (base(dim) % factors(dim)).toInt
          dim -= 1
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var f = 0
    while (f < footCells) {
      if (cnts(f) > 0) {
        // footprint-local -> destination-global linear index
        var remf = f; var dl = 0L; var i = 0
        while (i < nd) {
          val di = footLo(i) + remf / footStride(i)
          remf = remf % footStride(i)
          dl += di * dstStride(i)
          i += 1
        }
        out += org.apache.spark.sql.catalyst.InternalRow(dl, sums(f),
          cnts(f))
      }
      f += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DownsampleChunkExpr =
    copy(left = l, right = r)
}

/** Cell-level diff of two chunk payloads WITHOUT exploding every cell:
  * decode both sides in one pass and emit ONLY the differing positions
  * as `ARRAY<STRUCT<pos, old, new>>`. A one-cell patch in a 16 M-cell
  * chunk emits one row instead of 16 M filtered ones — row-machinery
  * cost proportional to the CHANGE (the chunk-level prune in
  * `changedChunkRefs` bounds which chunks decode; this bounds what they
  * emit). A null side reads as fill (0), zarr's missing-chunk
  * semantics; length mismatches read the shorter side as 0-padded.
  */
case class DiffChunkExpr(left: Expression, right: Expression,
                         dtype: String, compression: String)
    extends BinaryExpression with CodegenFallback {
  private val isInt = ChunkCodec.IntDtypes.contains(dtype)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("old", if (isInt) LongType else DoubleType,
      nullable = false),
    StructField("new", if (isInt) LongType else DoubleType,
      nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input).asInstanceOf[Array[Byte]]
    val r = right.eval(input).asInstanceOf[Array[Byte]]
    if (l == null && r == null) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    if (isInt) {
      val a = if (l == null) Array.empty[Long]
        else ChunkCodec.decodeLongs(ChunkCodec.decompress(l, compression),
          dtype)
      val b = if (r == null) Array.empty[Long]
        else ChunkCodec.decodeLongs(ChunkCodec.decompress(r, compression),
          dtype)
      val n = math.max(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = if (i < a.length) a(i) else 0L
        val y = if (i < b.length) b(i) else 0L
        if (x != y) out += org.apache.spark.sql.catalyst.InternalRow(
          i.toLong, x, y)
        i += 1
      }
    } else {
      val a = if (l == null) Array.empty[Double]
        else ChunkCodec.decodeDoubles(
          ChunkCodec.decompress(l, compression), dtype)
      val b = if (r == null) Array.empty[Double]
        else ChunkCodec.decodeDoubles(
          ChunkCodec.decompress(r, compression), dtype)
      val n = math.max(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = if (i < a.length) a(i) else 0.0
        val y = if (i < b.length) b(i) else 0.0
        // NaN-safe inequality: the row explode used <=> semantics
        if (x != y && !(x.isNaN && y.isNaN))
          out += org.apache.spark.sql.catalyst.InternalRow(i.toLong, x, y)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DiffChunkExpr = copy(left = l,
    right = r)
}

/** Shared sub-block geometry for the slice kernels: intersect the global
  * element bounds `[lo, hi)` with one chunk (identified by its coord),
  * yielding per-dim in-chunk ranges + row-major strides. Returns null when
  * the chunk does not overlap the region.
  */
private[graft] object SliceGeom {
  final case class Block(from: Array[Int], until: Array[Int],
                         strides: Array[Long], chunkStart: Array[Long],
                         extent: Array[Long])

  def block(coord: Array[Int], chunkShape: Array[Long], lo: Array[Long],
            hi: Array[Long]): Block = {
    val nd = chunkShape.length
    val start = new Array[Long](nd)
    var i = 0
    while (i < nd) { start(i) = coord(i).toLong * chunkShape(i); i += 1 }
    blockAt(start, chunkShape, lo, hi)
  }

  /** Grid-dispatching form: regular grids go through [[block]]; a
    * non-empty `rectSizes` (per-dim chunk-length tables) resolves this
    * chunk's start/extent from the tables (O(coord) prefix sum per
    * chunk, on any `Seq` — chunks are MB-sized, the sum is noise).
    * Out-of-grid coords return null (no overlap).
    */
  def blockOf(coord: Array[Int], chunkShape: Array[Long],
              rectSizes: Seq[Seq[Long]], lo: Array[Long],
              hi: Array[Long]): Block =
    if (rectSizes.isEmpty) block(coord, chunkShape, lo, hi)
    else {
      val nd = rectSizes.size
      val start = new Array[Long](nd)
      val ex = new Array[Long](nd)
      var i = 0
      while (i < nd) {
        val sizes = rectSizes(i).iterator
        if (coord(i) < 0 || rectSizes(i).lengthCompare(coord(i)) <= 0)
          return null
        var j = 0
        while (j < coord(i)) { start(i) += sizes.next(); j += 1 }
        ex(i) = sizes.next()
        i += 1
      }
      blockAt(start, ex, lo, hi)
    }

  /** Generalized form for grids whose chunk extents vary per coordinate
    * (rectilinear, store.rs:1158-1241): the caller supplies THIS chunk's
    * global start and per-dim extent; strides come from the actual
    * extents, so in-chunk position arithmetic is grid-agnostic. Rank 0
    * is one cell at position 0.
    */
  def blockAt(start: Array[Long], extent: Array[Long], lo: Array[Long],
              hi: Array[Long]): Block = {
    val nd = extent.length
    val from = new Array[Int](nd)
    val until = new Array[Int](nd)
    var i = 0
    while (i < nd) {
      from(i) = math.max(0L, lo(i) - start(i)).toInt
      until(i) = math.min(extent(i), hi(i) - start(i)).toInt
      if (from(i) >= until(i)) return null
      i += 1
    }
    val strides = new Array[Long](nd)
    if (nd > 0) strides(nd - 1) = 1L
    var d = nd - 2
    while (d >= 0) { strides(d) = strides(d + 1) * extent(d + 1); d -= 1 }
    Block(from, until, strides, start, extent.clone())
  }

  /** Running count, sum, min and max of a chunk's cells: the one
    * double-valued stats loop of the value plane. `sum` adds `v.toDouble`
    * in cell order; `min`/`max` are meaningless while `n == 0`.
    */
  final class Stats {
    var n = 0L
    var sum = 0.0
    var min = Double.PositiveInfinity
    var max = Double.NegativeInfinity

    /** Fold in the `len` cells of `bb` starting at cell `base`. */
    def addRun(bb: ByteBuffer, dtype: String, base: Int, len: Int): Unit = {
      val end = base + len
      var p = base
      dtype match {
        case "int8" => while (p < end) { add(bb.get(p)); p += 1 }
        case "int16" => while (p < end) { add(bb.getShort(p * 2)); p += 1 }
        case "int32" => while (p < end) { add(bb.getInt(p * 4)); p += 1 }
        case "int64" =>
          while (p < end) { add(bb.getLong(p * 8).toDouble); p += 1 }
        case "float32" => while (p < end) { add(bb.getFloat(p * 4)); p += 1 }
        case "float64" => while (p < end) { add(bb.getDouble(p * 8)); p += 1 }
      }
      n += len
    }

    @inline private def add(v: Double): Unit = {
      sum += v
      if (v < min) min = v
      if (v > max) max = v
    }

    /** `struct(n, sum, min, max)`, min/max null over zero cells. */
    def row: org.apache.spark.sql.catalyst.InternalRow =
      org.apache.spark.sql.catalyst.InternalRow(n, sum,
        if (n == 0) null else min, if (n == 0) null else max)
  }

  /** `struct(n, sum, min, max)` of the stats kernels. */
  val StatsType: StructType = StructType(Seq(
    StructField("n", LongType), StructField("sum", DoubleType),
    StructField("min", DoubleType), StructField("max", DoubleType)))

  /** The per-chunk rule of a slice-statistics read, shared by
    * [[ChunkSliceStatsExpr]] (the Spark route) and the driver route of
    * `TensorPlane.sliceStats`: decode only the sub-block of `bytes` (the
    * chunk at `coord`) inside the region and reduce it run by run.
    */
  def stats(bytes: Array[Byte], coord: Array[Int], dtype: String,
            compression: String, chunkShape: Array[Long],
            rectSizes: Seq[Seq[Long]], lo: Array[Long],
            hi: Array[Long]): Stats = {
    val st = new Stats
    val blk = blockOf(coord, chunkShape, rectSizes, lo, hi)
    if (blk == null) return st
    val raw = ChunkCodec.decompress(bytes, compression)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    foreachRun(blk)((base, len) => st.addRun(bb, dtype, base.toInt, len))
    st
  }

  /** Iterate the sub-block as contiguous inner runs: `f(basePos, len)` is
    * called once per run (innermost dim is contiguous in row-major).
    */
  def foreachRun(b: Block)(f: (Long, Int) => Unit): Unit = {
    val nd = b.from.length
    if (nd == 0) { f(0L, 1); return }
    val runLen = b.until(nd - 1) - b.from(nd - 1)
    if (nd == 1) { f(b.from(0).toLong, runLen); return }
    val idx = b.from.clone()
    var done = false
    while (!done) {
      var pos = 0L
      var i = 0
      while (i < nd) { pos += idx(i).toLong * b.strides(i); i += 1 }
      f(pos, runLen)
      // odometer over dims 0..nd-2
      var d = nd - 2
      var carry = true
      while (carry && d >= 0) {
        idx(d) += 1
        if (idx(d) < b.until(d)) carry = false
        else { idx(d) = b.from(d); d -= 1 }
      }
      if (carry) done = true
    }
  }
}

/** Sub-block statistics WITHOUT decoding or exploding the rest of the
  * chunk: per-chunk (count, sum, min, max) over only the cells inside the
  * requested element region — aggregation pushdown into the chunk kernel.
  * This is the 100 TB plan for `sum(value) over a slice`: extents prune
  * the manifest splits, this kernel prunes within the chunk, and no row
  * machinery runs at all.
  */
case class ChunkSliceStatsExpr(bytes: Expression, coord: Expression,
                               dtype: String, compression: String,
                               chunkShape: Seq[Long], lo: Seq[Long],
                               hi: Seq[Long],
                               rectSizes: Seq[Seq[Long]] = Nil)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = bytes
  override def right: Expression = coord
  override def dataType: DataType = SliceGeom.StatsType

  private val chunkArr = chunkShape.toArray
  private val loArr = lo.toArray
  private val hiArr = hi.toArray

  override def nullSafeEval(b: Any, c: Any): Any =
    SliceGeom.stats(b.asInstanceOf[Array[Byte]],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray(), dtype, compression, chunkArr, rectSizes, loArr, hiArr)
      .row

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ChunkSliceStatsExpr =
    copy(bytes = l, coord = r)
}

/** Decode ONLY the cells of a chunk inside the requested element region,
  * as ARRAY<STRUCT<pos, value>> — the row-returning region read decodes
  * and emits the slice, never the whole chunk.
  */
case class DecodeChunkSliceExpr(bytes: Expression, coord: Expression,
                                dtype: String, compression: String,
                                chunkShape: Seq[Long], lo: Seq[Long],
                                hi: Seq[Long],
                                rectSizes: Seq[Seq[Long]] = Nil)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = bytes
  override def right: Expression = coord
  private val valueType: DataType =
    if (ChunkCodec.IntDtypes.contains(dtype)) LongType else DoubleType
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType), StructField("value", valueType))),
    containsNull = false)

  private val chunkArr = chunkShape.toArray
  private val loArr = lo.toArray
  private val hiArr = hi.toArray

  override def nullSafeEval(b: Any, c: Any): Any = {
    val raw = ChunkCodec.decompress(b.asInstanceOf[Array[Byte]], compression)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val coordInts = c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray()
    val blk = SliceGeom.blockOf(coordInts, chunkArr, rectSizes, loArr, hiArr)
    if (blk == null) return new GenericArrayData(Array.empty[Any])
    val isInt = ChunkCodec.IntDtypes.contains(dtype)
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    val readL: Long => Long = dtype match {
      case "int8" => p => bb.get(p.toInt).toLong
      case "int16" => p => bb.getShort(p.toInt * 2).toLong
      case "int32" => p => bb.getInt(p.toInt * 4).toLong
      case _ => p => bb.getLong(p.toInt * 8)
    }
    val readD: Long => Double = dtype match {
      case "float32" => p => bb.getFloat(p.toInt * 4).toDouble
      case _ => p => bb.getDouble(p.toInt * 8)
    }
    SliceGeom.foreachRun(blk) { (base, len) =>
      var j = 0
      while (j < len) {
        val p = base + j
        out += org.apache.spark.sql.catalyst.InternalRow(p,
          if (isInt) readL(p) else readD(p))
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DecodeChunkSliceExpr =
    copy(bytes = l, coord = r)
}

object CodecFunctions {
  def decode_chunk(bytes: Column, dtype: String,
                   compression: String = "raw"): Column =
    column(DecodeChunkExpr(expression(bytes), dtype, compression))

  def chunk_stats(bytes: Column, dtype: String,
                  compression: String = "raw"): Column =
    column(ChunkStatsExpr(expression(bytes), dtype, compression))

  def chunk_slice_stats(bytes: Column, coord: Column, dtype: String,
                        compression: String, chunkShape: Seq[Long],
                        lo: Seq[Long], hi: Seq[Long],
                        rectSizes: Seq[Seq[Long]] = Nil): Column =
    column(ChunkSliceStatsExpr(expression(bytes), expression(coord), dtype,
      compression, chunkShape, lo, hi, rectSizes))

  def decode_chunk_slice(bytes: Column, coord: Column, dtype: String,
                         compression: String, chunkShape: Seq[Long],
                         lo: Seq[Long], hi: Seq[Long],
                         rectSizes: Seq[Seq[Long]] = Nil): Column =
    column(DecodeChunkSliceExpr(expression(bytes), expression(coord), dtype,
      compression, chunkShape, lo, hi, rectSizes))

  def chunk_histogram(bytes: Column, dtype: String, compression: String,
                      lo: Double, hi: Double, nbins: Int): Column =
    column(ChunkHistogramExpr(expression(bytes), dtype, compression, lo,
      hi, nbins))

  def diff_chunks(oldBytes: Column, newBytes: Column, dtype: String,
                  compression: String): Column =
    column(DiffChunkExpr(expression(oldBytes), expression(newBytes),
      dtype, compression))

  def downsample_chunk(bytes: Column, coord: Column, dtype: String,
                       compression: String, chunkShape: Seq[Long],
                       shape: Seq[Long], factors: Seq[Int],
                       mode: String, rectStarts: Seq[Seq[Long]] = Nil,
                       rectSizes: Seq[Seq[Long]] = Nil): Column =
    column(DownsampleChunkExpr(expression(bytes), expression(coord),
      dtype, compression, chunkShape, shape, factors, mode,
      rectStarts, rectSizes))
}
