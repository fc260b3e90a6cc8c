package graft.zarr

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.NodePath
import graft.meta.NodeSpec
import graft.repo.{GraftException, Session}

/** Zarr v3 store façade over a [[Session]] (icechunk/src/store.rs): the
  * string-keyed get/set/list surface Zarr clients speak, re-expressed over
  * the nodes + chunk-ref relations. Listing surfaces exist in two forms:
  * driver iterators (Zarr contract) and DataFrames (`listKeysDf`) for the
  * scale path.
  */
final case class ParsedMeta(nodeType: String, shape: Seq[Long],
    chunkShape: Seq[Long], dimNames: Seq[String],
    chunkSizesPerDim: Seq[Seq[Long]])

final class ZarrStore(val session: Session) {
  import ZarrKey._

  // ---------------- metadata synthesis / parse ----------------

  /** Re-synthesize `zarr.json` for a node (store.rs:297-340): the stored
    * user_data wins when present; otherwise built from the node spec.
    */
  def metadataDocument(n: NodeSpec): String =
    if (n.userData != null && n.userData.nonEmpty) n.userData
    else if (n.isArray) {
      val dims =
        if (n.dimNames.nonEmpty)
          s""","dimension_names":[${n.dimNames.map("\"" + _ + "\"").mkString(",")}]"""
        else ""
      val grid =
        if (n.isRectilinear)
          s""""chunk_grid":{"name":"rectilinear","configuration":{"chunk_shapes":[${
            n.chunkSizesPerDim.map(_.mkString("[", ",", "]")).mkString(",")}]}}"""
        else
          s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${n.chunkShape.mkString(",")}]}}"""
      s"""{"zarr_format":3,"node_type":"array","shape":[${n.shape.mkString(",")}],""" +
        grid + dims + "}"
    } else """{"zarr_format":3,"node_type":"group"}"""

  /** Parse a `zarr.json` document into (nodeType, shape, chunkShape,
    * dimNames) — the only fields the engine itself interprets
    * (store.rs:1158-1241; everything else stays opaque in user_data).
    */
  def parseMetadata(doc: String): ParsedMeta = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(doc)
    val nodeType = (j \ "node_type").extractOpt[String].getOrElse("group")
    if (nodeType == "array") {
      val shape = (j \ "shape").extract[Seq[Long]]
      val dims = (j \ "dimension_names").extractOpt[Seq[String]]
        .getOrElse(Nil)
      val gridName = (j \ "chunk_grid" \ "name").extractOpt[String]
        .getOrElse("regular")
      gridName match {
        case "regular" =>
          val chunks = (j \ "chunk_grid" \ "configuration" \ "chunk_shape")
            .extractOpt[Seq[Long]]
            .getOrElse(throw new GraftException("missing chunk_shape"))
          ParsedMeta(NodeSpec.Array, shape, chunks, dims, Nil)
        case "rectilinear" =>
          // the reference grammar (store.rs:1303-1330) mixes plain sizes
          // with run-length-encoded [size, count] entries
          val sizes = (j \ "chunk_grid" \ "configuration" \ "chunk_shapes") match {
            case org.json4s.JArray(ds) => ds.map {
              case org.json4s.JArray(es) => es.flatMap {
                case org.json4s.JInt(n) => Seq(n.toLong)
                case org.json4s.JArray(List(org.json4s.JInt(sz),
                    org.json4s.JInt(ct))) => Seq.fill(ct.toInt)(sz.toLong)
                case other => throw new GraftException(
                  s"bad chunk_shapes element $other (size or [size, count])")
              }
              case other => throw new GraftException(
                s"bad chunk_shapes dim $other")
            }
            case _ => throw new GraftException("missing chunk_shapes")
          }
          ParsedMeta(NodeSpec.Array, shape, Nil, dims, sizes)
        case other => throw new GraftException(
          s"unsupported chunk grid '$other' (regular | rectilinear)")
      }
    } else ParsedMeta(NodeSpec.Group, Nil, Nil, Nil, Nil)
  }

  // ---------------- get / set / delete ----------------

  /** `Store::get` (store.rs:184) with optional byte range. */
  def get(key: String, range: Option[(Long, Long)] = None): Option[Array[Byte]] =
    ZarrKey.parse(key) match {
      case Left(err) => throw new GraftException(err)
      case Right(Metadata(path)) =>
        session.node(path).map(n => slice(metadataDocument(n).getBytes, range))
      case Right(Chunk(path, coords)) =>
        session.node(path).filter(_.isArray)
          .flatMap { _ =>
            range match {
              case None => session.getChunk(path, coords)
              case Some((from, to)) =>
                // range pushdown: one ranged GET, never the whole chunk
                session.getChunkRef(path, coords)
                  .map(session.materializeRange(_, from, to))
            }
          }
    }

  private def slice(bytes: Array[Byte], range: Option[(Long, Long)]) =
    range match {
      case None => bytes
      case Some((from, to)) =>
        // construct_valid_byte_range semantics: clamp to [0, len)
        val f = math.max(0, math.min(from, bytes.length)).toInt
        val t = math.max(f, math.min(to, bytes.length)).toInt
        java.util.Arrays.copyOfRange(bytes, f, t)
    }

  /** Vectorized multi-get with bounded concurrency (default 10 — the
    * reference's `get_partial_values` concurrency, config.rs:576-578;
    * store.rs:199-253).
    */
  def getPartialValues(reqs: Seq[(String, Option[(Long, Long)])],
                       concurrency: Int = 10): Seq[Option[Array[Byte]]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(concurrency, reqs.size.max(1))))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[Option[Array[Byte]]]] =
        reqs.map { case (k, r) =>
          (() => get(k, r)): java.util.concurrent.Callable[Option[Array[Byte]]]
        }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  /** `Store::set` (store.rs:275): metadata docs create/update nodes; chunk
    * keys write chunk bytes (inline vs object per threshold).
    */
  def set(key: String, bytes: Array[Byte]): Unit =
    ZarrKey.parse(key) match {
      case Left(err) => throw new GraftException(err)
      case Right(Metadata(path)) =>
        val doc = new String(bytes)
        val m = parseMetadata(doc)
        (session.node(path), m.nodeType) match {
          case (None, NodeSpec.Group) => session.addGroup(path, doc)
          case (None, NodeSpec.Array) if m.chunkSizesPerDim.nonEmpty =>
            session.addArrayRectilinear(path, m.shape, m.chunkSizesPerDim,
              m.dimNames, doc)
          case (None, NodeSpec.Array) =>
            session.addArray(path, m.shape, m.chunkShape, m.dimNames, doc)
          case (Some(n), NodeSpec.Array) if n.isArray =>
            session.updateArray(path, m.shape, m.chunkShape, m.dimNames, doc)
          case (Some(n), NodeSpec.Group) if !n.isArray =>
            session.updateGroup(path, doc)
          case (Some(n), _) => throw new GraftException(
            s"node type change not allowed at $path (${n.nodeType})")
        }
      case Right(Chunk(path, coords)) =>
        session.writeChunk(path, coords, bytes)
    }

  /** `set_if_not_exists` (store.rs:349). */
  def setIfNotExists(key: String, bytes: Array[Byte]): Boolean =
    if (exists(key)) false else { set(key, bytes); true }

  /** `Store::delete` (store.rs:515). Deleting a chunk key that cannot
    * exist — missing node, group node, or out-of-grid coordinates — is a
    * no-op matching zarr-python (reference #2312); out-of-grid WRITES
    * still reject via [[Session.setChunkRef]]'s bounds check.
    */
  def delete(key: String): Unit =
    ZarrKey.parse(key) match {
      case Left(err) => throw new GraftException(err)
      case Right(Metadata(path)) =>
        if (session.node(path).isDefined) session.deleteNode(path)
      case Right(Chunk(path, coords)) =>
        if (session.node(path).filter(_.isArray).exists(_.validCoord(coords)))
          session.deleteChunk(path, coords)
    }

  /** Recursive delete under a prefix (`delete_dir`). */
  def deleteDir(prefix: String): Unit = {
    val p = NodePath.normalize(prefix)
    if (session.node(p).isDefined) session.deleteNode(p)
  }

  def exists(key: String): Boolean =
    ZarrKey.parse(key) match {
      case Left(_) => false
      case Right(Metadata(path)) => session.node(path).isDefined
      case Right(Chunk(path, coords)) =>
        session.node(path).exists(_.isArray) &&
          session.getChunkRef(path, coords).isDefined
    }

  def isEmpty: Boolean = session.nodes.forall(_.path == "/")

  // ---------------- listing ----------------

  /** Every key in the store as a DataFrame — metadata keys ∪ chunk keys
    * with byte sizes (the scale path; `list_prefix` et al are views over
    * this). Chunk-coordinate keys are formatted from the chunk-ref
    * relation, one row per chunk (store.rs:580-699).
    */
  def listKeysDf(): DataFrame = listKeysDf("")

  /** [[listKeysDf]] with the key-prefix predicate pushed down to NODE
    * pruning (r16, guide §6 pushdown): an array contributes chunk keys
    * only under `<path>/c/`, so a prefix query scans only the arrays
    * whose key space intersects it — `getsize_prefix("one/array")` on a
    * 10k-array repo reads one array's manifests, not all of them.
    * Callers keep their row-level filter; this only prunes whole nodes.
    */
  def listKeysDf(prefixFilter: String): DataFrame = {
    val spark = session.repo.spark
    import spark.implicits._
    val metaDf = spark.createDataset(metadataKeys).toDF("key", "size")
    val arrays = arraysUnder(prefixFilter)
    // ONE batched refs relation for every array, not a per-array
    // refs() union — a 100-array union is a 100-leg plan Catalyst
    // spends tens of seconds analyzing (the Session.refsBatch rationale)
    val chunkDf =
      if (arrays.isEmpty) None
      else {
        val pDf = broadcast(arrays.map(n => (n.path, chunkPrefix(n)))
          .toDF("path", "prefix"))
        Some(session.refsBatch(arrays.map(_.path))
          .join(pDf, Seq("path"))
          .select(
            concat(col("prefix"), concat_ws("/", col("coord"))).as("key"),
            coalesce(col("length"), lit(0L)).as("size")))
      }
    chunkDf.map(metaDf.unionByName(_)).getOrElse(metaDf)
  }

  /** [[listKeysDf]]`(prefixFilter)` built on the driver, row for row (the
    * same key format and `coalesce(length, 0)` size), from the node specs
    * plus [[Session.refsBatchDriver]]'s effective refs. None when that
    * read routes to Spark: staged batches in the session, or the
    * intersecting arrays' committed refs past the driver bound.
    */
  private def listKeysDriver(
      prefixFilter: String): Option[Seq[(String, Long)]] = {
    val arrays = arraysUnder(prefixFilter)
    val chunks =
      if (arrays.isEmpty) Some(Nil)
      else session.refsBatchDriver(arrays.map(_.path))
    chunks.map { rows =>
      val prefixOf = arrays.map(n => n.path -> chunkPrefix(n)).toMap
      metadataKeys ++ rows.map { case (path, r) =>
        (prefixOf(path) + r.coord.mkString("/"), r.length)
      }
    }
  }

  private def metadataKeys: Seq[(String, Long)] = session.nodes.map { n =>
    (ZarrKey.format(Metadata(n.path)),
      metadataDocument(n).getBytes.length.toLong)
  }

  /** `<path>/c/` — the key prefix of an array's chunks. */
  private def chunkPrefix(n: NodeSpec): String =
    (NodePath.normalize(n.path) match {
      case "/" => ChunkMarker
      case np => np.stripPrefix("/") + "/" + ChunkMarker
    }) + "/"

  /** Arrays whose chunk-key space intersects `prefixFilter` (every array
    * when it is empty).
    */
  private def arraysUnder(prefixFilter: String): Seq[NodeSpec] = {
    val pf = if (prefixFilter.isEmpty) "" else prefixFilter + "/"
    session.nodes.filter(n => n.isArray && (pf.isEmpty || {
      val nPrefix = chunkPrefix(n)
      nPrefix.startsWith(pf) || pf.startsWith(nPrefix)
    }))
  }

  /** Run a listing over the keys under `prefix`: on the driver when
    * [[listKeysDriver]] serves it, else over [[listKeysDf]] — recording
    * the route on the caller's span. The callers' row filters keep only
    * keys under `prefix`, which no pruned array holds, so pruning never
    * changes a listing.
    */
  private def routed[T](h: graft.core.Trace.Handle, prefix: String)(
      driver: Seq[(String, Long)] => T)(spark: DataFrame => T): T =
    listKeysDriver(prefix) match {
      case Some(keys) => h.set("route", "driver"); driver(keys)
      case None => h.set("route", "spark"); spark(listKeysDf(prefix))
    }

  /** Keys in Spark's string order (unsigned UTF-8 bytes), so both routes
    * list alike. UTF-16 order is the same order unless a surrogate pair
    * meets a char at or above U+E000, so only keys holding surrogates pay
    * the UTF-8 comparison.
    */
  private def sparkOrdered(keys: Iterator[String]): Seq[String] = {
    val ks = keys.toVector
    if (ks.forall(_.forall(c => !Character.isSurrogate(c)))) ks.sorted
    else ks.map(k => (org.apache.spark.unsafe.types.UTF8String.fromString(k), k))
      .sortWith((a, b) => a._1.compareTo(b._1) < 0).map(_._2)
  }

  /** `list_prefix` (store.rs:580) as an iterator. The Spark route
    * '''streams''': ordered partitions surface one at a time
    * (`toLocalIterator`), so a 500 M-chunk array never materializes its
    * key list on the driver.
    */
  def listPrefixIterator(prefix: String): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    val norm = prefix.stripPrefix("/")
    graft.core.Trace.span("zarr.list", "prefix" -> norm) { h =>
      routed(h, norm) { keys =>
        sparkOrdered(keys.iterator.map(_._1).filter(k =>
          norm.isEmpty || k.startsWith(norm + "/") || k == norm)).iterator
      } { df =>
        df.filter(
            if (norm.isEmpty) lit(true)
            else col("key").startsWith(norm + "/") || col("key") === norm)
          .select("key").orderBy("key")
          .toLocalIterator().asScala.map(_.getString(0))
      }
    }
  }

  /** `list_prefix` as a Seq — tool-scale convenience over the iterator. */
  def listPrefix(prefix: String): Seq[String] =
    listPrefixIterator(prefix).toSeq

  /** `list_dir` (store.rs:660): the sorted distinct names directly under
    * a prefix. The driver route derives them from the driver key list;
    * the Spark route runs a distributed distinct, so only the child names
    * reach the driver.
    */
  def listDir(prefix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val norm = prefix.stripPrefix("/").stripSuffix("/")
    val base = if (norm.isEmpty) "" else norm + "/"
    graft.core.Trace.span("zarr.list", "prefix" -> norm) { h =>
      routed(h, norm) { keys =>
        sparkOrdered(keys.iterator.map(_._1).filter(_.startsWith(base))
          .map(_.substring(base.length).takeWhile(_ != '/')).distinct)
      } { df =>
        df.filter(if (base.isEmpty) lit(true) else col("key").startsWith(base))
          .select(substring_index(expr(
            s"substring(key, ${base.length + 1})"), "/", 1).as("child"))
          .distinct().orderBy("child")
          .toLocalIterator().asScala.map(_.getString(0)).toSeq
      }
    }
  }

  /** `getsize` (store.rs:700). */
  def getSize(key: String): Option[Long] =
    ZarrKey.parse(key) match {
      case Left(_) => None
      case Right(Metadata(path)) =>
        session.node(path).map(metadataDocument(_).getBytes.length.toLong)
      case Right(Chunk(path, coords)) =>
        session.getChunkRef(path, coords).map(r =>
          if (r.kind == graft.meta.ChunkRef.KindInline) r.inline.length.toLong
          else r.length)
    }

  /** `getsize_prefix` (store.rs:707): the summed sizes of the keys under
    * a prefix — a driver sum, or one aggregation over the key frame.
    */
  def getSizePrefix(prefix: String): Long = {
    val norm = prefix.stripPrefix("/")
    graft.core.Trace.span("zarr.getsize", "prefix" -> norm) { h =>
      routed(h, norm) { keys =>
        keys.iterator.filter(k => norm.isEmpty || k._1.startsWith(norm + "/"))
          .map(_._2).sum
      } { df =>
        df.filter(
            if (norm.isEmpty) lit(true) else col("key").startsWith(norm + "/"))
          .agg(coalesce(sum("size"), lit(0L))).head().getLong(0)
      }
    }
  }
}
