package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.repo.{GraftException, Repository}
import graft.storage.{ObjectInfo, Store}

/** Import an existing PLAIN Zarr v3 store into a repo — the adoption
  * path for data written before version control existed (the reference's
  * users reach this via VirtualiZarr/kerchunk-style reference ingest;
  * here it is one engine call). Reference analog: virtual chunk ingest,
  * `set_virtual_refs` (session.rs:631-655), generalized to a whole
  * store walk.
  *
  * Modes:
  *  - '''virtual''' (default): chunk objects stay where they are — the
  *    repo stages virtual refs `(location = source uri, offset = 0,
  *    length = object size)`. Zero bytes copied; adoption of a 100 TB
  *    store moves only metadata. Reads resolve through the
  *    virtual-chunk containers (register one for the source's scheme,
  *    local `file:` works out of the box).
  *  - '''copy''': chunk payloads are re-uploaded as native chunk
  *    objects from executors (decouples the repo from the source at the
  *    cost of one full read+write).
  *
  * Scale shape: `zarr.json` documents and the key LISTING are driver
  * concerns (the listing necessarily is — it comes back from the object
  * store's list API); coords parse and validate inline on that listing,
  * then everything payload-shaped (copy-mode fetch+upload) and the ref
  * staging itself run on executors through
  * [[graft.repo.Session.stageChunkRefs]], one commit. Unknown keys are
  * counted and reported, never silently dropped.
  *
  * Supported zarr metadata: v3, regular chunk grids, `bytes` codec
  * (little-endian) with optional gzip/zstd compression, `default`
  * (`c/`-prefixed) or `v2` chunk-key encodings with `/` or `.`
  * separators, and `sharding_indexed` (one layer): executors ranged-GET
  * each shard object's binary index and stage one virtual ref PER INNER
  * CHUNK `(shard uri, offset, nbytes)`, so a sharded 100 TB store
  * adopts with one small read per shard and the inner chunk — the
  * actual unit of access — stays the repo's chunk. Unknown codecs
  * (blosc, transpose, nested sharding) are refused loudly. The FULL
  * `zarr.json` document is preserved as the node's `userData`, so
  * attributes, fill values, and codec details survive adoption (and the
  * SQL catalog's dtype probe reads `data_type` from it directly).
  */
object ZarrImport {

  /** `sharding_indexed` geometry: store keys address SHARDS; each shard
    * object holds `innerPerShard` inner chunks plus a binary index of
    * `(offset, nbytes)` uint64-LE pairs (missing = both 2^64−1), at the
    * object's start or end, optionally crc32c-suffixed.
    */
  private final case class ShardSpec(shardShape: Seq[Long],
                                     innerPerShard: Seq[Int],
                                     indexAtEnd: Boolean,
                                     indexCrc: Boolean) {
    def entries: Int = innerPerShard.product
    def indexLen: Long = 16L * entries + (if (indexCrc) 4L else 0L)
  }

  private final case class ArraySpec(path: String, shape: Seq[Long],
                                     chunks: Seq[Long], dtype: String,
                                     dimNames: Seq[String],
                                     keyPrefix: String, sep: String,
                                     doc: String,
                                     shard: Option[ShardSpec] = None,
                                     // rectilinear chunk_grid extension:
                                     // per-dim chunk-length tables
                                     chunkSizes: Seq[Seq[Long]] = Nil)

  /** Walk `src` under `srcPrefix`, create the node tree on a fresh
    * session of `branch`, stage refs for every chunk key, and commit.
    * Returns the commit id.
    */
  def importStore(repo: Repository, branch: String, src: Store,
                  srcPrefix: String = "", copy: Boolean = false,
                  message: String = "import zarr store"): String = {
    val spark = repo.spark
    val prefix =
      if (srcPrefix.isEmpty || srcPrefix.endsWith("/")) srcPrefix
      else srcPrefix + "/"
    val entries = src.list(prefix)
    if (entries.isEmpty)
      throw new GraftException(s"no objects under '$prefix'")
    val V2Meta = Set(".zarray", ".zgroup", ".zattrs", ".zmetadata")
    def isMeta(key: String): Boolean =
      key.endsWith("zarr.json") || V2Meta.exists(key.endsWith)
    val metaDocs = entries.filter(e => e.key.endsWith("zarr.json") ||
      e.key.endsWith(".zarray") || e.key.endsWith(".zgroup"))
    if (metaDocs.isEmpty)
      throw new GraftException(
        s"no zarr.json/.zarray/.zgroup under '$prefix' — not a zarr store")

    // prefetch every metadata document in one concurrent wave — the
    // session-mutation loop below is parents-first ORDER-dependent, but
    // the GETs are not: a 1 000-array store over a 100 ms object store
    // is otherwise ~1 000 sequential round trips (round-13 latency
    // audit)
    val docCache: Map[String, String] = {
      val wanted = (metaDocs.map(_.key) ++
        entries.collect { case e if e.key.endsWith(".zattrs") => e.key })
        .distinct
      graft.storage.Store.parallelIO(wanted)(k =>
        k -> new String(src.getBytes(k),
          java.nio.charset.StandardCharsets.UTF_8)).toMap
    }
    def readDoc(key: String): String = docCache(key)
    // v2 attributes live in a SIBLING .zattrs file; fold them into the
    // synthesized v3 doc so the adoption is lossless
    def attrsFor(base: String): Option[String] =
      entries.find(_.key == base + ".zattrs").map(e => readDoc(e.key))

    val session = repo.writableSession(branch)
    var arrays = List.empty[ArraySpec]
    // parents before children so group docs land before member arrays
    for (m <- metaDocs.sortBy(_.key.count(_ == '/'))) {
      val name = m.key.substring(m.key.lastIndexOf('/') + 1)
      val rel = m.key.stripPrefix(prefix).stripSuffix(name)
        .stripSuffix("/")
      val nodePath = "/" + rel
      val base = if (rel.isEmpty) prefix else s"$prefix$rel/"
      val doc = readDoc(m.key)
      val j = JsonMethods.parse(doc)
      name match {
        case "zarr.json" =>
          (j \ "zarr_format") match {
            case JInt(v) if v == 3 => ()
            case other => throw new GraftException(
              s"${m.key}: unsupported zarr_format $other (v3 only)")
          }
          (j \ "node_type") match {
            case JString("group") =>
              // the root group already exists — carry its doc (global
              // attributes live there) instead of dropping it
              if (rel.nonEmpty) session.addGroup(nodePath, userData = doc)
              else session.updateGroup("/", doc)
            case JString("array") =>
              arrays ::= parseArray(nodePath, rel, doc, j, prefix)
              val a = arrays.head
              if (a.chunkSizes.nonEmpty)
                session.addArrayRectilinear(a.path, a.shape, a.chunkSizes,
                  a.dimNames, userData = a.doc)
              else
                session.addArray(a.path, a.shape, a.chunks, a.dimNames,
                  userData = a.doc)
            case other => throw new GraftException(
              s"${m.key}: unknown node_type $other")
          }
        case ".zgroup" =>
          if (rel.nonEmpty) session.addGroup(nodePath,
            userData = groupDocV3(attrsFor(base)))
          else session.updateGroup("/", groupDocV3(attrsFor(base)))
        case ".zarray" =>
          arrays ::= parseArrayV2(nodePath, rel, m.key, j, prefix,
            attrsFor(base))
          val a = arrays.head
          session.addArray(a.path, a.shape, a.chunks, a.dimNames,
            userData = a.doc)
      }
    }

    val srcRoot = src.rootUri.stripSuffix("/")
    var unknown = entries.size - entries.count(e => isMeta(e.key))
    for (a <- arrays) {
      val chunkKeys = entries.filter(e => e.key.startsWith(a.keyPrefix) &&
        !isMeta(e.key))
      unknown -= chunkKeys.size
      if (chunkKeys.nonEmpty) {
        import spark.implicits._
        val ndim = a.shape.size
        // the listing is already a driver-side relation; parse and
        // validate the coords right there (refuse-loudly posture: a
        // chunk-looking key that does not parse as exactly ndim
        // integers fails the import BY NAME, it does not vanish), then
        // everything payload-shaped happens on executors
        val parsed = chunkKeys.map { e =>
          val rest = e.key.substring(a.keyPrefix.length)
          val parts = rest.split(if (a.sep == ".") "\\." else "/", -1)
          val coord = parts.map(p => p.toIntOption.getOrElse(-1))
          if (coord.length != ndim || coord.exists(_ < 0))
            throw new GraftException(
              s"unparseable chunk key under ${a.keyPrefix}: ${e.key}")
          (coord.toSeq, e.key, e.size)
        }
        val keyed = parsed.toDF("coord", "key", "size")
          .repartition(math.max(1,
            math.min(spark.sparkContext.defaultParallelism * 2,
              parsed.size / 64 + 1)))
        // sharded arrays: store keys address SHARDS — executors ranged-GET
        // each shard's binary index and explode it into one row per
        // PRESENT inner chunk (coord, key, offset, length); a 100 TB
        // sharded store adopts with one small read per shard object
        val innerKeyed = a.shard match {
          case None => keyed
          case Some(ss) =>
            val srcConf = src.conf
            val perShard = ss.innerPerShard
            val strides = perShard.indices.map(d =>
              perShard.drop(d + 1).product)
            keyed.select(col("coord"), col("key"), col("size"))
              .as[(Seq[Int], String, Long)]
              .mapPartitions { it =>
                val s = graft.storage.StoreConf.cached(srcConf)
                it.flatMap { case (shardCoord, key, size) =>
                  if (size < ss.indexLen)
                    throw new GraftException(
                      s"shard $key shorter than its index " +
                        s"(${size}B < ${ss.indexLen}B)")
                  val off = if (ss.indexAtEnd) size - ss.indexLen else 0L
                  val idx = s.getRange(key, off, 16L * ss.entries)
                  val bb = java.nio.ByteBuffer.wrap(idx)
                    .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                  (0 until ss.entries).flatMap { e =>
                    val o = bb.getLong(e * 16)
                    val n = bb.getLong(e * 16 + 8)
                    if (o == -1L && n == -1L) None // 2^64-1: absent
                    else if (o < 0 || n < 0 || o + n > size)
                      throw new GraftException(
                        s"shard $key: inner chunk $e range [$o,+$n) " +
                          s"outside the ${size}B object")
                    else {
                      val coord = shardCoord.indices.map { d =>
                        shardCoord(d) * perShard(d) +
                          ((e / strides(d)) % perShard(d))
                      }
                      Some((coord, key, o, n))
                    }
                  }
                }
              }.toDF("coord", "key", "offset", "length")
        }
        val refs =
          if (!copy && a.shard.isDefined)
            innerKeyed.select(col("coord"), lit("virtual").as("kind"),
              concat(lit(srcRoot + "/"), col("key")).as("location"),
              col("offset"), col("length"))
          else if (copy && a.shard.isDefined) {
            val srcConf = src.conf
            session.stageUploads(graft.tensor.TensorPlane.uploadChunks(
              innerKeyed.select(col("coord"), col("key"), col("offset"),
                col("length")).as[(Seq[Int], String, Long, Long)],
              repo.store.conf)(_.map { case (coord, key, off, len) =>
                (coord, graft.storage.StoreConf.cached(srcConf)
                  .getRange(key, off, len))
              }))
          }
          else if (!copy)
            keyed.select(col("coord"), lit("virtual").as("kind"),
              concat(lit(srcRoot + "/"), col("key")).as("location"),
              lit(0L).as("offset"), col("size").as("length"))
          else {
            // the upload job is side-effecting: stageUploads runs it
            // EXACTLY once and changeset actions (commit's node-id scan,
            // flush, CAS retries) replay the staged rows. Without this
            // every re-evaluation re-uploaded the whole store under fresh
            // ids.
            val srcConf = src.conf
            session.stageUploads(graft.tensor.TensorPlane.uploadChunks(
              keyed.select(col("coord"), col("key")).as[(Seq[Int], String)],
              repo.store.conf)(_.map { case (coord, key) =>
                (coord, graft.storage.StoreConf.cached(srcConf).getBytes(key))
              }))
          }
        session.stageChunkRefs(a.path, refs)
      }
    }
    if (unknown > 0)
      System.err.println(s"[zarr-import] $unknown non-chunk, " +
        "non-metadata keys ignored")
    session.commit(message)
  }

  /** v2 → v3 dtype map; unsigned/big-endian/exotic dtypes are refused
    * (the value plane has no decode for them), not silently narrowed.
    */
  private def dtypeV2(d: String, where: String): String = d match {
    case "<i1" | "|i1" => "int8"
    case "<i2" => "int16"
    case "<i4" => "int32"
    case "<i8" => "int64"
    case "<f4" => "float32"
    case "<f8" => "float64"
    case other => throw new GraftException(
      s"$where: unsupported v2 dtype '$other' " +
        "(little-endian signed int / float only)",
      graft.repo.GraftError.InvalidConfig)
  }

  private def groupDocV3(attrs: Option[String]): String =
    attrs match {
      case Some(a) =>
        s"""{"zarr_format":3,"node_type":"group","attributes":$a}"""
      case None => """{"zarr_format":3,"node_type":"group"}"""
    }

  /** Parse a zarr v2 `.zarray` document into the same [[ArraySpec]] the
    * v3 path produces, synthesizing a v3 `zarr.json` as userData (with
    * the sibling `.zattrs` folded in) — importing a v2 store and
    * exporting it back out IS the v2 → v3 migration.
    */
  private def parseArrayV2(nodePath: String, rel: String, key: String,
                           j: JValue, prefix: String,
                           attrs: Option[String]): ArraySpec = {
    (j \ "zarr_format") match {
      case JInt(v) if v == 2 => ()
      case other => throw new GraftException(
        s"$key: .zarray with zarr_format $other")
    }
    def longs(v: JValue, what: String): Seq[Long] = v match {
      case JArray(xs) => xs.map {
        case JInt(n) => n.toLong
        case other =>
          throw new GraftException(s"$nodePath: bad $what element $other")
      }
      case other =>
        throw new GraftException(s"$nodePath: missing $what ($other)")
    }
    val shape = longs(j \ "shape", "shape")
    val chunks = longs(j \ "chunks", "chunks")
    val dtype = (j \ "dtype") match {
      case JString(d) => dtypeV2(d, nodePath)
      case other =>
        throw new GraftException(s"$nodePath: missing dtype ($other)")
    }
    (j \ "order") match {
      case JString("C") | JNothing => ()
      case other => throw new GraftException(
        s"$nodePath: unsupported order $other (row-major C only)")
    }
    (j \ "filters") match {
      case JNull | JNothing | JArray(Nil) => ()
      case other => throw new GraftException(
        s"$nodePath: v2 filters unsupported ($other)")
    }
    val codec = (j \ "compressor") match {
      case JNull | JNothing => None
      case o =>
        (o \ "id") match {
          case JString("gzip") => Some("gzip")
          case JString("zstd") => Some("zstd")
          case other => throw new GraftException(
            s"$nodePath: unsupported v2 compressor $other " +
              "(null | gzip | zstd)")
        }
    }
    val sep = (j \ "dimension_separator") match {
      case JString(s) => s
      case _ => "." // the v2 default
    }
    val codecJson = codec match {
      case Some(c) =>
        s"""[{"name":"bytes","configuration":{"endian":"little"}},""" +
          s"""{"name":"$c"}]"""
      case None =>
        """[{"name":"bytes","configuration":{"endian":"little"}}]"""
    }
    val attrJson = attrs.map(a => s""","attributes":$a""").getOrElse("")
    // carry the source's fill_value verbatim — climate stores commonly
    // use -9999/NaN, and a synthesized 0 would mislabel every missing
    // chunk for downstream zarr consumers. (The engine's own value
    // plane does not synthesize fill rows for absent chunks, so present
    // data reads identically either way.)
    val fillJson = (j \ "fill_value") match {
      case JNothing => "0"
      case v => JsonMethods.compact(JsonMethods.render(v))
    }
    val doc =
      s"""{"zarr_format":3,"node_type":"array",""" +
        s""""shape":[${shape.mkString(",")}],""" +
        s""""chunk_grid":{"name":"regular","configuration":""" +
        s"""{"chunk_shape":[${chunks.mkString(",")}]}},""" +
        s""""data_type":"$dtype",""" +
        s""""chunk_key_encoding":{"name":"v2",""" +
        s""""configuration":{"separator":"$sep"}},""" +
        s""""fill_value":$fillJson,"codecs":$codecJson$attrJson}"""
    val base = if (rel.isEmpty) prefix else s"$prefix$rel/"
    ArraySpec(nodePath, shape, chunks, dtype, Nil, base, sep, doc)
  }

  private def parseArray(nodePath: String, rel: String, doc: String,
                         j: JValue, prefix: String): ArraySpec = {
    def longs(v: JValue, what: String): Seq[Long] = v match {
      case JArray(xs) => xs.map {
        case JInt(n) => n.toLong
        case other => throw new GraftException(
          s"$nodePath: bad $what element $other")
      }
      case other =>
        throw new GraftException(s"$nodePath: missing $what ($other)")
    }
    val shape = longs(j \ "shape", "shape")
    val gridName = (j \ "chunk_grid" \ "name") match {
      case JString(n @ ("regular" | "rectilinear")) => n
      case other => throw new GraftException(
        s"$nodePath: unsupported chunk_grid $other " +
          "(regular | rectilinear)")
    }
    // rectilinear extension (the doc ZarrExport and the repo's own zarr
    // facade emit): per-dim chunk-length tables that must tile the
    // shape. The reference's grammar (store.rs:1303-1330) allows each
    // entry to be a plain size OR a run-length-encoded `[size, count]`
    // pair, mixed freely — stores written by the reference with RLE
    // tables must import.
    def chunkTable(v: JValue, what: String): Seq[Long] = v match {
      case JArray(xs) => xs.flatMap {
        case JInt(n) => Seq(n.toLong)
        case JArray(List(JInt(size), JInt(count))) =>
          if (count < 0) throw new GraftException(
            s"$nodePath: bad $what run count $count")
          Seq.fill(count.toInt)(size.toLong)
        case other => throw new GraftException(
          s"$nodePath: bad $what element $other " +
            "(size or [size, count] run)")
      }
      case other =>
        throw new GraftException(s"$nodePath: missing $what ($other)")
    }
    val rectSizes: Seq[Seq[Long]] =
      if (gridName != "rectilinear") Nil
      else (j \ "chunk_grid" \ "configuration" \ "chunk_shapes") match {
        case JArray(dims) =>
          val tables = dims.zipWithIndex.map { case (d, i) =>
            chunkTable(d, s"chunk_shapes[$i]")
          }
          if (tables.size != shape.size ||
              tables.zip(shape).exists { case (t, len) =>
                t.isEmpty || t.exists(_ <= 0) || t.sum != len })
            throw new GraftException(
              s"$nodePath: chunk_shapes do not tile shape " +
                s"${shape.mkString(",")}")
          tables
        case other => throw new GraftException(
          s"$nodePath: missing chunk_shapes ($other)")
      }
    val chunks =
      if (gridName == "rectilinear") Nil
      else longs(j \ "chunk_grid" \ "configuration" \ "chunk_shape",
        "chunk_shape")
    val dtype = (j \ "data_type") match {
      case JString(d) => d
      case other =>
        throw new GraftException(s"$nodePath: missing data_type ($other)")
    }
    // codecs: bytes (little-endian) with optional gzip/zstd, or ONE
    // sharding_indexed layer whose inner codecs satisfy the same rule;
    // anything else (blosc, transpose, nested sharding) is refused, not
    // guessed
    def checkFlat(cs: Seq[JValue], where: String): Unit = {
      val names = cs.map(c => c \ "name").collect { case JString(n) => n }
      val ok = Set("bytes", "endian", "gzip", "zstd")
      val badCodecs = names.filterNot(ok)
      if (badCodecs.nonEmpty) throw new GraftException(
        s"$nodePath: unsupported $where codecs " +
          s"${badCodecs.mkString(",")} (bytes[+gzip|zstd] only)",
        graft.repo.GraftError.InvalidConfig)
    }
    // (innerShape, indexAtEnd, indexCrc, innerCodecs) when sharded
    val shardParsed: Option[(Seq[Long], Boolean, Boolean, Seq[JValue])] =
      (j \ "codecs") match {
        case JArray(cs) =>
          cs.find(c => (c \ "name") == JString("sharding_indexed")) match {
            case Some(sc) =>
              if (cs.size != 1) throw new GraftException(
                s"$nodePath: sharding_indexed must be the only top-level" +
                  " codec", graft.repo.GraftError.InvalidConfig)
              val conf = sc \ "configuration"
              val inner = longs(conf \ "chunk_shape", "inner chunk_shape")
              val innerCodecs = (conf \ "codecs") match {
                case JArray(ics) => checkFlat(ics, "inner"); ics
                case JNothing => Nil
                case other => throw new GraftException(
                  s"$nodePath: bad inner codecs $other")
              }
              val idxCodecs = (conf \ "index_codecs") match {
                case JArray(ics) =>
                  ics.map(c => c \ "name").collect { case JString(n) => n }
                case _ => Seq("bytes", "crc32c") // the spec default
              }
              if (idxCodecs.exists(n => n != "bytes" && n != "endian" &&
                  n != "crc32c"))
                throw new GraftException(
                  s"$nodePath: unsupported index_codecs $idxCodecs",
                  graft.repo.GraftError.InvalidConfig)
              val atEnd = (conf \ "index_location") match {
                case JString("start") => false
                case _ => true
              }
              Some((inner, atEnd, idxCodecs.contains("crc32c"),
                innerCodecs))
            case None => checkFlat(cs, "top-level"); None
          }
        case JNothing => None // absent codecs = raw bytes
        case other =>
          throw new GraftException(s"$nodePath: bad codecs $other")
      }
    val dimNames = (j \ "dimension_names") match {
      case JArray(xs) => xs.collect { case JString(n) => n }
      case _ => Nil
    }
    // chunk key encoding: default = "<path>/c/0/1", v2 = "<path>/0.1"
    val (enc, sep) = (j \ "chunk_key_encoding") match {
      case JNothing => ("default", "/")
      case e =>
        val name = (e \ "name") match {
          case JString(n) => n
          case _ => "default"
        }
        val s = (e \ "configuration" \ "separator") match {
          case JString(x) => x
          case _ => if (name == "v2") "." else "/"
        }
        (name, s)
    }
    val base = if (rel.isEmpty) prefix else s"$prefix$rel/"
    val keyPrefix = enc match {
      case "default" => s"${base}c$sep"
      case "v2" => base
      case other => throw new GraftException(
        s"$nodePath: unknown chunk_key_encoding $other")
    }
    shardParsed match {
      case None =>
        ArraySpec(nodePath, shape, chunks, dtype, dimNames, keyPrefix,
          sep, doc, chunkSizes = rectSizes)
      case Some((inner, atEnd, crc, innerCodecs)) =>
        if (rectSizes.nonEmpty) throw new GraftException(
          s"$nodePath: sharding_indexed over a rectilinear grid is not " +
            "supported (shard geometry assumes a uniform inner grid)",
          graft.repo.GraftError.InvalidConfig)
        // store keys address SHARDS (grid = `chunks`); the graft array
        // adopts the INNER grid — each inner chunk becomes one virtual
        // ref into its shard object
        if (inner.size != chunks.size ||
            inner.zip(chunks).exists { case (i, s) => i <= 0 || s % i != 0 })
          throw new GraftException(
            s"$nodePath: inner chunk shape ${inner.mkString(",")} does " +
              s"not divide shard shape ${chunks.mkString(",")}",
            graft.repo.GraftError.InvalidConfig)
        val perShard = chunks.zip(inner).map { case (s, i) => (s / i).toInt }
        // re-synthesize the stored doc on the INNER grid with the inner
        // codecs: the adopted array's unit of access is the inner chunk,
        // and a verbatim doc (shard grid + sharding codec) would make
        // export → re-import reconstruct the wrong geometry
        val innerCodecsJson =
          if (innerCodecs.nonEmpty) JArray(innerCodecs.toList)
          else JArray(List(JObject(List(
            "name" -> JString("bytes"),
            "configuration" -> JObject(List(
              "endian" -> JString("little")))))))
        val doc2 = JsonMethods.compact(JsonMethods.render(
          j.transformField {
            case ("chunk_grid", _) =>
              ("chunk_grid", JObject(List(
                "name" -> JString("regular"),
                "configuration" -> JObject(List(
                  "chunk_shape" -> JArray(
                    inner.toList.map(n => JInt(BigInt(n)))))))))
            case ("codecs", JArray(cs))
                if cs.exists(c =>
                  (c \ "name") == JString("sharding_indexed")) =>
              ("codecs", innerCodecsJson)
          }))
        ArraySpec(nodePath, shape, inner, dtype, dimNames, keyPrefix, sep,
          doc2, Some(ShardSpec(chunks, perShard, atEnd, crc)))
    }
  }
}
