package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{DriverRoute, Trace}
import graft.functions.Cosine

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`). Brute-force cosine is the correctness baseline; the
  * scale path is sign-random-projection LSH bucketing (search only the
  * probe's bucket) — both pure column expressions, no UDFs.
  */
object Similarity {

  /** '''Route rule''' of [[ivfIndex]] and [[neighborsPerVector]]: each call
    * collects its input through [[DriverRoute.collectBounded]] (no
    * limit when Spark knows the row count, none at all when that count is
    * over the bound). An input of at most `DriverMaxVectors` rows and
    * `DriverMaxCells` vector cells (vectors × dim), with no null vector or
    * element, takes the DRIVER route; [[neighborsPerVector]] also needs
    * unique, non-null ids of an integral or string type and at most
    * `DriverMaxPairs` pairs (Σ m·min(m, cap) over its LSH buckets). Every
    * per-row value (double cast, sign bits, norm, bucket cap hash,
    * nearest centroid) is the Spark route's own column expression,
    * evaluated over a local relation; the per-pair cosine is the same
    * rule ([[graft.functions.Cosine]]), computed natively. The result is a
    * local DataFrame, whose use runs no Spark job. [[ivfTopK]] answers on
    * the driver when its index is such a local DataFrame (cached or not).
    * Any other input takes the SPARK route, unchanged.
    *
    * Sizing: both routes forced, 4 vCPUs, `local[4]`, 64-dim unit
    * vectors in 20 tight clusters (the perfbench shape), cached input,
    * median of 4 warm runs, result collected. `ivfIndex` (nlist 16): the
    * driver route took 346 / 488 / 1,274 / 1,506 / 2,022 ms at 2k / 10k /
    * 20k / 30k / 50k vectors, the Spark route 501 / 797 / 1,658 / 793 /
    * 1,006 ms (its fastest run at 20k: 655 ms): the interpreted
    * per-row expressions grow with the cells, so the routes cross near
    * 20k vectors of 64 dims, and the cell bound is that many cells.
    * `neighborsPerVector` (k 5, 8 planes, so about n²/20 pairs): the
    * driver route took 527 / 1,030 / 2,508 ms at 2k / 10k / 20k vectors
    * (20M pairs), the Spark route 1,383 / 4,089 / 14,074 ms.
    */
  private final val DriverMaxVectors = 20000
  private final val DriverMaxCells = DriverMaxVectors * 64L
  private final val DriverMaxPairs = 20000000L

  /** Codegen'd sequential Σ aᵢ·bᵢ ([[graft.functions.DotProductExpr]]) —
    * same summation order as the `aggregate(zip_with(...))` HOF form it
    * replaces, ~100× faster on O(n²) pair kernels.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The cosine rule ([[graft.functions.Cosine]]) of two vectors. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine(dot(a, b), norm(a), norm(b))

  /** `(id, cos)`: each row's cosine to the query `q`, rounded to 6 places.
    * The query rides as an array literal and its norm folds into one, so
    * a new query compiles no new code.
    */
  private def scored(df: DataFrame, q: Seq[Double], vecCol: String,
                     idCol: String): DataFrame =
    df.select(col(idCol),
      round(cosine(col(vecCol).cast("array<double>"), typedLit(q)), 6)
        .as("cos"))

  /** [[scored]]'s best `k` rows in `(cos desc, id)` order (TakeOrdered —
    * no full sort shuffle).
    */
  private def topK(df: DataFrame, q: Seq[Double], k: Int, vecCol: String,
                   idCol: String): DataFrame =
    scored(df, q, vecCol, idCol).orderBy(col("cos").desc, col(idCol)).limit(k)

  /** Brute-force top-k by cosine against one query vector: one scan, one
    * top-k.
    */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Float], k: Int,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame =
    topK(embeddings, query.map(_.toDouble), k, vecCol, idCol)

  /** Prototypicality / outlier scoring against per-label centroids (the
    * D4-style sibling of SemDeDup): each embedding's Euclidean distance
    * to its OWN label's mean vector, flagged when above `threshold` —
    * far-from-prototype points are label noise or genuinely novel, and
    * both matter to curation.
    *
    * Scale shape: the centroid table is labels × dims partials from one
    * map-side-combined aggregation (vectors never shuffle), rebuilt into
    * arrays per label (bounded rows) and broadcast back by an EQUI-join
    * on the label; the distance is one codegen'd fold per row. Centroid
    * coordinates come from an EXACT scaled-integer sum (each value
    * rounds to a 1e-6 grid as a long; long addition is order-free, so
    * partial-aggregate summation order cannot flip a rounding boundary
    * the way a double `avg` could), then one deterministic division —
    * both engines therefore fold identical inputs in index order and
    * q_embedding_outliers hash-matches bit-for-bit.
    */
  def labelOutliers(embeddings: DataFrame, threshold: Double,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id",
                    labelCol: String = "label"): DataFrame = {
    val e = embeddings.select(col(idCol), col(labelCol),
      transform(col(vecCol), _.cast("double")).as("v"))
    val cent = e.select(col(labelCol), posexplode(col("v")))
      .groupBy(labelCol, "pos")
      .agg(sum(round(col("col") * 1000000).cast("long")).as("s"),
        count(lit(1)).as("cnt"))
      .withColumn("m", round(
        (col("s").cast("double") / 1000000.0) / col("cnt"), 6))
      .groupBy(labelCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))
    e.join(broadcast(cent), Seq(labelCol))
      .withColumn("dist", round(sqrt(aggregate(
        zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)), 6))
      .select(col(idCol), col(labelCol), col("dist"),
        (col("dist") > threshold).as("outlier"))
  }

  /** Symmetric int8 quantization of an embedding column — the 4× memory
    * cut that makes a 100 TB vector corpus index-resident: per vector,
    * `scale = max|v| / 127` and `code_i = round(v_i / scale)` (zero
    * vectors get scale 1 so codes are all 0). Pure per-row column
    * arithmetic (codegen'd, no shuffle, no UDF); the reconstruction
    * error is bounded by `scale/2` per coordinate, which the returned
    * `max_err` audits. Engine-portable arithmetic — q_embedding_quantize
    * hash-matches DuckDB's recomputation of every code.
    *
    * Returns (id, scale, codes, max_code, max_err).
    */
  def quantizeEmbeddings(embeddings: DataFrame,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): DataFrame = {
    val v = transform(col(vecCol), _.cast("double"))
    embeddings
      .select(col(idCol), v.as("v"))
      .withColumn("maxabs",
        greatest(array_max(col("v")), -array_min(col("v"))))
      .withColumn("scale",
        when(col("maxabs") === 0.0, lit(1.0))
          .otherwise(col("maxabs") / 127.0))
      .withColumn("codes",
        transform(col("v"), x => round(x / col("scale")).cast("int")))
      .withColumn("max_code", array_max(transform(col("codes"), abs(_))))
      .withColumn("max_err", array_max(
        zip_with(col("codes"), col("v"),
          (c, x) => abs(c * col("scale") - x))))
      .select(col(idCol), col("scale"), col("codes"), col("max_code"),
        col("max_err"))
  }

  /** Top-k per probe for a whole probe *set* — the batched form: block
    * by LSH bucket, rank within probe, keep k. Shuffle is O(n·tables), not
    * O(n·m) pairs.
    */
  def signBits(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Random hyperplanes for sign-LSH (seeded, deterministic). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Assign every vector to a sign-LSH bucket. Near vectors (small angle)
    * land in the same bucket with high probability; at 100 TB the bucket
    * column is the partition key so probes touch one partition.
    */
  def lshBuckets(embeddings: DataFrame, numPlanes: Int = 12,
                 dim: Int = 64, seed: Long = 42L,
                 vecCol: String = "embedding"): DataFrame =
    embeddings.withColumn("bucket",
      signBits(col(vecCol).cast("array<double>"),
        randomPlanes(numPlanes, dim, seed)))

  /** ANN top-k with query-directed '''multi-probe''' (the perturbation
    * ordering of Lv et al. 2007): probe buckets in order of the summed
    * hyperplane margins their sign flips would cost — flipping the planes
    * the query is CLOSEST to first, because near neighbors most likely
    * land on the other side of exactly those planes. The probe set grows
    * until it covers ≥ `k · minCandidatesFactor` candidates (sizes from
    * ONE bucket-count aggregation), then a single bucket-pruned scan
    * ranks candidates. `minCandidatesFactor = 1` ≈ single-probe
    * (cheapest); larger values buy recall with a wider pruned scan —
    * never a full brute-force fallback.
    */
  def annTopK(embeddings: DataFrame, query: Seq[Float], k: Int,
              numPlanes: Int = 8, vecCol: String = "embedding",
              idCol: String = "vec_id",
              minCandidatesFactor: Int = 3): DataFrame = {
    require(numPlanes <= 20, "probe enumeration is 2^numPlanes")
    val dim = query.size
    val planes = randomPlanes(numPlanes, dim)
    // driver-side signed margins of the query against each hyperplane
    val margins = planes.map(p =>
      p.zip(query).map { case (x, y) => x * y.toDouble }.sum)
    val qBits = margins.zipWithIndex.foldLeft(0L) { case (acc, (m, i)) =>
      if (m >= 0) acc | (1L << i) else acc
    }
    val bucketed = lshBuckets(embeddings, numPlanes, dim, 42L, vecCol)
    val sizes = bucketed.groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every probe mask, cheapest margin-cost first (mask 0 = home bucket)
    val masksByCost = (0 until (1 << numPlanes)).sortBy { mask =>
      var cost = 0.0
      var i = 0
      while (i < numPlanes) {
        if ((mask & (1 << i)) != 0) cost += math.abs(margins(i))
        i += 1
      }
      cost
    }
    val minCandidates = math.max(k.toLong, k.toLong * minCandidatesFactor)
    val chosen = scala.collection.mutable.ArrayBuffer[Long]()
    var have = 0L
    val it = masksByCost.iterator
    while (have < minCandidates && it.hasNext) {
      val b = qBits ^ it.next().toLong
      val sz = sizes.getOrElse(b, 0L)
      if (sz > 0 || chosen.isEmpty) { chosen += b; have += sz }
    }
    // the buckets as an array literal, not `isin`: generated code inlines
    // `isin` values, so every probe set would compile anew
    topK(bucketed.filter(array_contains(typedLit(chosen.toSeq), col("bucket"))),
      query.map(_.toDouble), k, vecCol, idCol)
  }

  /** IVF (inverted-file) ANN index: k-means coarse quantizer over the
    * embedding space; every vector is assigned to its nearest centroid's
    * list. Search visits only the `nprobe` nearest lists — unlike
    * data-oblivious sign-LSH, the centroids ADAPT to the corpus, so
    * recall/candidate is far better on weakly-clustered data. At 100 TB
    * the centroid id is the partition key: a probe touches `nprobe`
    * partitions, and the (tiny) centroid table broadcasts.
    *
    * The quantizer is fit on a bounded sample (`fitSampleCap` rows,
    * driver-side Lloyd's — centroid quality needs a representative
    * sample, not the corpus), then assignment runs distributed as one
    * codegen'd nearest-centroid expression per row. Index build on the
    * Spark route is one count + one sampled collect, never `maxIter` full
    * passes; on the driver route (see the route rule) it is the one
    * bounded collect, the fit on the collected points in collect order (the
    * order the Spark route's collect sees) and the same assignment over a
    * local relation, so the index is a local DataFrame that [[ivfTopK]]
    * answers from with no job. Past `fitSampleCap` rows both routes fit on
    * the same Spark sample job.
    */
  def ivfIndex(embeddings: DataFrame, nlist: Int = 64, seed: Long = 42L,
               vecCol: String = "embedding", fitSampleCap: Int = 100000,
               maxIter: Int = 10): (DataFrame, Array[Array[Double]]) =
    Trace.span("ann.ivf_build") { h =>
      val asDouble = col(vecCol).cast("array<double>")
      def sampled(n: Long) = fitSample(embeddings.select(asDouble), n,
        fitSampleCap, seed, "ivfIndex")
      def fit(points: Array[Array[Double]]) =
        KMeansLocal.fit(points, math.min(nlist, points.length), maxIter, seed)
      val at = embeddings.schema.fieldNames.indexOf(vecCol)
      val driver = (if (at < 0) None else collectVectors(embeddings, at, h))
          .flatMap { rows =>
        val local = embeddings.sparkSession.createDataFrame(rows.toSeq.asJava,
          embeddings.schema)
        val vecs = vectors(DriverRoute.localRows(local.select(asDouble)), 0)
        vecs.map { v =>
          require(v.nonEmpty, "ivfIndex: empty corpus")
          // the sample path keeps the Spark route's sample job, so the
          // centers are the same
          val centers = fit(if (v.length <= fitSampleCap) v
            else sampled(v.length))
          (DriverRoute.local(
            local.withColumn("list_id", nearestCentroid(asDouble, centers))),
            centers)
        }
      }
      h.set("route", if (driver.isDefined) "driver" else "spark")
      driver.getOrElse {
        val centers = fit(sampled(embeddings.count()))
        (embeddings.withColumn("list_id", nearestCentroid(asDouble, centers)),
          centers)
      }
    }

  /** The vectors of `vecs` (one `array<double>` column, `n` rows) that
    * k-means fits on: all of them up to `cap` rows, else a seeded sample
    * of at most `cap`.
    */
  private def fitSample(vecs: DataFrame, n: Long, cap: Int, seed: Long,
                        op: String): Array[Array[Double]] = {
    require(n > 0, s"$op: empty corpus")
    val picked = if (n <= cap) vecs else vecs.sample(withReplacement = false,
      math.min(1.0, cap * 1.1 / n), seed).limit(cap)
    picked.collect().map(_.getSeq[Double](0).toArray)
  }

  /** The rows of `df` through the bounded collect, if they hold at most
    * `DriverMaxVectors` rows and `DriverMaxCells` cells in the vectors of
    * column `at`; sets the span's `vectors`.
    */
  private def collectVectors(df: DataFrame, at: Int,
                             h: Trace.Handle): Option[Array[Row]] =
    DriverRoute.collectBounded(df, DriverMaxVectors, h, "vectors")
      .filter(_.iterator.map(r =>
        if (r.isNullAt(at)) 0L else r.getSeq[Any](at).size.toLong).sum <=
        DriverMaxCells)

  /** The vectors in column `at` of locally evaluated rows, in row order,
    * or `None` for a null vector or element (the driver routes leave
    * those to the Spark route).
    */
  private def vectors(rows: Array[InternalRow],
                      at: Int): Option[Array[Array[Double]]] = {
    def plain(a: ArrayData) =
      (0 until a.numElements).forall(i => !a.isNullAt(i))
    if (rows.forall(r => !r.isNullAt(at) && plain(r.getArray(at))))
      Some(rows.map(_.getArray(at).toDoubleArray))
    else None
  }

  /** Codegen'd argmin over centroids: `argmin_i ‖v−cᵢ‖² =
    * argmin_i (‖cᵢ‖² − 2·v·cᵢ)` as an `array_min` over `(dist, i)`
    * structs — distributed assignment with the centroid table as
    * literals (the broadcast degenerate case: nlist ≤ a few K).
    *
    * Each distance is ONE dot product of the augmented vectors `(v, 1)`
    * and `(−2cᵢ, ‖cᵢ‖²)`: the same double as `‖cᵢ‖² − 2·(v·cᵢ)` (scaling
    * by −2 is exact), with every centroid value inside an array literal.
    * Generated code references array literals but inlines scalar ones,
    * so a rebuilt index (new centroids) reuses the compiled assignment.
    */
  def nearestCentroid(vec: Column, centers: Array[Array[Double]]): Column = {
    val augmented = concat(vec, array(lit(1.0)))
    val scored = centers.zipWithIndex.map { case (c, i) =>
      val cn2 = c.map(x => x * x).sum
      struct(dot(augmented, typedLit(c.map(-2.0 * _).toSeq :+ cn2)).as("d"),
        lit(i).as("i"))
    }
    array_min(array(scored: _*)).getField("i")
  }

  /** IVF search: rank the query against the centroid table driver-side
    * (nlist is tiny), then scan only the `nprobe` nearest lists.
    */
  def ivfTopK(indexed: DataFrame, centers: Array[Array[Double]],
              query: Seq[Float], k: Int, nprobe: Int = 8,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame =
    Trace.span("ann.ivf_query") { h =>
      val q = query.map(_.toDouble)
      def l2(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
      val cos = centers.map(c => Cosine.of(
        c.zip(q).map { case (x, y) => x * y }.sum, l2(c.toSeq), l2(q)))
      val probes = centers.indices
        .sortWith((i, j) => cosOrder(cos(i), cos(j)) < 0).take(nprobe)
      val driver = indexed.queryExecution.analyzed match {
        case l: LocalRelation => topKDriver(indexed.sparkSession, l,
          probes.toSet, k, h)(idCol, vecCol, scored(_, q, vecCol, idCol))
        case _ => None
      }
      h.set("route", if (driver.isDefined) "driver" else "spark")
      // the probe set as an array literal, not `isin`: generated code
      // inlines `isin` values, so every probe set would compile anew
      driver.getOrElse(topK(indexed.filter(
          array_contains(typedLit(probes), col("list_id"))), q, k, vecCol,
        idCol))
    }

  /** [[ivfTopK]] over a driver-held index: the rows of the probed lists,
    * scored by the Spark route's own expression over a local relation of
    * their id and vector only (a relation of the index's own columns and
    * rows would be swapped for the index's cache, which runs a job), then
    * sorted on the driver in Spark's `(cos desc, id)` order. `None` (the
    * Spark route) when the columns are missing, `list_id` is not an int,
    * the id type has no driver order ([[idOrder]]) or a probed row has a
    * null id or vector.
    */
  private def topKDriver(spark: SparkSession, index: LocalRelation,
                         probes: Set[Int], k: Int, h: Trace.Handle)(
      idCol: String, vecCol: String,
      scored: DataFrame => DataFrame): Option[DataFrame] = {
    val schema = index.schema
    val Seq(iId, iVec, iList) = Seq(idCol, vecCol, "list_id")
      .map(schema.fieldNames.indexOf(_))
    if (iId < 0 || iVec < 0 || iList < 0 ||
        schema(iList).dataType != IntegerType) return None
    val idType = schema(iId).dataType
    val kept = index.data.filter(r =>
      !r.isNullAt(iList) && probes(r.getInt(iList)))
    h.set("vectors", kept.size.toLong)
    if (kept.exists(r => r.isNullAt(iId) || r.isNullAt(iVec))) return None
    idOrder(idType).map { byId =>
      val probed = DriverRoute.localFrame(spark,
        StructType(Seq(schema(iId), schema(iVec))),
        kept.map(r => new GenericInternalRow(
          Array[Any](r.get(iId, idType), r.getArray(iVec))): InternalRow))
      val out = scored(probed)
      def cos(r: InternalRow): java.lang.Double =
        if (r.isNullAt(1)) null else r.getDouble(1)
      val top = DriverRoute.localRows(out).sortWith { (x, y) =>
        val c = cosOrder(cos(x), cos(y))
        if (c != 0) c < 0 else byId.lt(x.get(0, idType), y.get(0, idType))
      }.take(k)
      DriverRoute.localFrame(spark, out.schema, top.toSeq)
    }
  }

  /** Spark's `desc` order of two cosines: NaN above every number, -0.0
    * equal to 0.0, nulls last. Negative when `x` comes first.
    */
  private def cosOrder(x: java.lang.Double, y: java.lang.Double): Int =
    if (x == null || y == null) java.lang.Boolean.compare(x == null, y == null)
    else SQLOrderingUtil.compareDoubles(y, x)

  /** Spark's ascending order of non-null ids of type `dt`, for the types
    * the driver routes take: integral, and strings of the default binary
    * collation (`UTF8String` order).
    */
  private def idOrder(dt: DataType): Option[Ordering[Any]] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
    case StringType =>
      Some(Ordering.fromLessThan[Any]((x, y) =>
        x.asInstanceOf[UTF8String].compareTo(y.asInstanceOf[UTF8String]) < 0))
    case _ => None
  }

  /** Product-quantization model: `m` subspaces × `k` centroids each,
    * fit on a bounded driver sample (same discipline as [[ivfIndex]]).
    * A D-dim vector compresses to `m` small codes — at k ≤ 256 that is
    * m BYTES per vector, a 32×+ compression of float32 embeddings, and
    * search never touches the original vectors.
    */
  final case class PqModel(m: Int, k: Int, subDim: Int,
                           codebooks: Array[Array[Array[Double]]])

  /** Fit PQ codebooks: slice the (sampled) vectors into `m` contiguous
    * subspaces and run the seeded local k-means per subspace — m small
    * driver fits, zero Spark iterations.
    */
  def pqFit(embeddings: DataFrame, m: Int = 8, k: Int = 16,
            dim: Int = 64, seed: Long = 42L,
            vecCol: String = "embedding", fitSampleCap: Int = 100000,
            maxIter: Int = 10): PqModel = {
    require(m >= 1 && dim % m == 0, s"pqFit: dim $dim not divisible by m $m")
    val subDim = dim / m
    val vecs = embeddings.select(col(vecCol).cast("array<double>"))
    val points = fitSample(vecs, vecs.count(), fitSampleCap, seed, "pqFit")
    val codebooks = Array.tabulate(m) { mi =>
      val sub = points.map(_.slice(mi * subDim, (mi + 1) * subDim))
      KMeansLocal.fit(sub, math.min(k, sub.length), maxIter, seed + mi)
    }
    PqModel(m, k, subDim, codebooks)
  }

  /** Encode every vector into its `m` PQ codes — one distributed
    * projection with m codegen'd nearest-centroid argmins (codebooks
    * inlined as literals); the output column is ARRAY<INT> of length m.
    */
  def pqEncode(embeddings: DataFrame, model: PqModel,
               vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val codes = (0 until model.m).map { mi =>
      nearestCentroid(slice(v, mi * model.subDim + 1, model.subDim),
        model.codebooks(mi))
    }
    embeddings.withColumn("codes", array(codes: _*))
  }

  /** PQ search by asymmetric distance (ADC): the query's per-subspace
    * distance table (m × k doubles) computes driver-side and rides as
    * ONE literal array; each row's approximate squared L2 distance is m
    * table lookups summed — no vector math per row at all, the scan
    * reads only the m-byte codes. Top-k by TakeOrdered.
    */
  def pqTopK(encoded: DataFrame, model: PqModel, query: Seq[Float],
             topK: Int, idCol: String = "vec_id"): DataFrame = {
    val q = query.map(_.toDouble).toArray
    require(q.length == model.m * model.subDim, "pqTopK: query dim mismatch")
    val table: Seq[Double] = (0 until model.m).flatMap { mi =>
      val qs = q.slice(mi * model.subDim, (mi + 1) * model.subDim)
      model.codebooks(mi).map { c =>
        var d = 0.0
        var i = 0
        while (i < qs.length) {
          val diff = qs(i) - c(i); d += diff * diff; i += 1
        }
        d
        // stride padding for codebooks smaller than k (tiny fit sample);
        // never referenced by a code, poisoned just in case
      }.toSeq ++ Seq.fill(model.k - model.codebooks(mi).length)(Double.MaxValue)
    }
    val t = typedLit(table)
    val adc = (0 until model.m).map { mi =>
      element_at(t, col("codes").getItem(mi) + lit(mi * model.k) + lit(1))
    }.reduce(_ + _)
    encoded.select(col(idCol), round(adc, 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol))
      .limit(topK)
  }

  /** All-pairs top-k neighbors per vector via LSH buckets (the batched
    * ANN-join): rank within bucket, keep k per id.
    *
    * '''Skew guard''': a hot bucket of size m would make the self-join a
    * single m² task, so the CANDIDATE side is capped at `maxBucketSize`
    * rows per bucket by a deterministic hash filter
    * (`hash(id, bucket) mod m < cap` — map-only, no per-bucket sort).
    * The probe side keeps every row, so every vector still receives k
    * neighbors; pairs per bucket are ≤ m·cap instead of m². Bucket
    * counts (≤ 2^numPlanes rows) broadcast.
    *
    * On the driver route (see the route rule) the buckets, norms and cap
    * filter are these expressions over a local relation, and each vector
    * ranks its bucket's candidates by the same cosine double in the same
    * `(cos desc, id_b)` order, in parallel over vectors.
    */
  def neighborsPerVector(embeddings: DataFrame, k: Int,
                         numPlanes: Int = 8, dim: Int = 64,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id",
                         maxBucketSize: Int = 4096): DataFrame =
    Trace.span("ann.neighbors") { h =>
      // hoist the float→double cast and the self-norm ABOVE the pair join:
      // computed per pair they dominate the kernel (an array allocation +
      // two extra dot folds per candidate — measured ~3× the pair cost).
      // The per-pair value is the cosine rule over the hoisted norms, the
      // same double as [[cosine]], so oracles are unaffected.
      def normed(e: DataFrame) = lshBuckets(e, numPlanes, dim, 42L, vecCol)
        .select(col("bucket"), col(idCol),
          transform(col(vecCol), _.cast("double")).as("_v"))
        .withColumn("_n", sqrt(dot(col("_v"), col("_v"))))
      val kept = col("count") <= maxBucketSize ||
        pmod(xxhash64(col(idCol), col("bucket")), col("count")) < maxBucketSize
      val sel = embeddings.select(col(idCol), col(vecCol))
      val driver = collectVectors(sel, 1, h).flatMap { rows =>
        val local = embeddings.sparkSession.createDataFrame(
          rows.toSeq.asJava, sel.schema)
        neighborsDriver(normed(local), k, maxBucketSize, kept, h)
      }
      h.set("route", if (driver.isDefined) "driver" else "spark")
      driver.getOrElse {
        val bucketed = normed(embeddings)
        val a = bucketed.select(col("bucket"), col(idCol).as("id_a"),
          col("_v").as("v_a"), col("_n").as("n_a"))
        val counts = bucketed.groupBy("bucket").count()
        val b = bucketed
          .join(broadcast(counts), Seq("bucket"))
          .filter(kept)
          .select(col("bucket"), col(idCol).as("id_b"),
            col("_v").as("v_b"), col("_n").as("n_b"))
        val w = Window.partitionBy("id_a")
          .orderBy(col("cos").desc, col("id_b"))
        a.join(b, Seq("bucket"))
          .filter(col("id_a") =!= col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(graft.functions.VectorFunctions.cosine(
              dot(col("v_a"), col("v_b")), col("n_a"), col("n_b")), 6)
              .as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
      }
    }

  /** [[neighborsPerVector]]'s driver route over `normed`, a local frame
    * of `(bucket, id, _v, _n)`: `None` (the Spark route) for ids that are
    * null, repeated or of a type with no driver order, for null vectors or
    * past `DriverMaxPairs`. `kept` is the Spark route's cap filter over
    * `(id, bucket, count)`, evaluated for the rows of the buckets over the
    * cap only.
    */
  private def neighborsDriver(normed: DataFrame, k: Int, cap: Int,
                              kept: Column,
                              h: Trace.Handle): Option[DataFrame] = {
    val spark = normed.sparkSession
    val idField = normed.schema(1)
    val rows = DriverRoute.localRows(normed)
    val n = rows.length
    val id = rows.map(r =>
      if (r.isNullAt(1)) null else r.get(1, idField.dataType))
    val byId = idOrder(idField.dataType).filter(_ => !id.contains(null))
      .map(o => (0 until n).sortWith((i, j) => o.lt(id(i), id(j))).toArray)
      .filter(s => s.indices.drop(1).forall(x => id(s(x - 1)) != id(s(x))))
    val members = (0 until n).groupBy(i => rows(i).getLong(0))
    val pairs = members.valuesIterator
      .map(m => m.size.toLong * math.min(m.size, cap)).sum
    val norm = rows.map(r => if (r.isNullAt(3)) 0.0 else r.getDouble(3))
    h.set("pairs", pairs)
    for (sorted <- byId; v <- vectors(rows, 2)
         if pairs <= DriverMaxPairs) yield {
      val rank = new Array[Int](n)
      sorted.indices.foreach(x => rank(sorted(x)) = x)
      val hot = members.filter(_._2.size > cap).toSeq
      val at = hot.flatMap(_._2).toArray
      val flags = if (at.isEmpty) Array.empty[InternalRow] else
        DriverRoute.localRows(DriverRoute.localFrame(spark,
          StructType(Seq(idField, StructField("bucket", LongType, false),
            StructField("count", LongType, false))),
          hot.flatMap { case (bk, m) => m.map(i => new GenericInternalRow(
            Array[Any](id(i), bk, m.size.toLong)): InternalRow) })
          .select(kept))
      val keptHot =
        at.indices.filter(x => flags(x).getBoolean(0)).map(at).toSet
      val candidates = members.map { case (bk, m) =>
        bk -> (if (m.size > cap) m.filter(keptHot).toArray else m.toArray) }
      val top = new Array[Array[(Int, java.lang.Double)]](n)
      java.util.stream.IntStream.range(0, n).parallel().forEach { a =>
        top(a) = nearest(a, candidates(rows(a).getLong(0)), v, norm, rank, k)
      }
      val out = for (a <- 0 until n; ((b, c), r) <- top(a).iterator
        .zipWithIndex) yield new GenericInternalRow(
          Array[Any](id(a), id(b), c, r + 1)): InternalRow
      DriverRoute.localFrame(spark, StructType(Seq(
        idField.copy(name = "id_a"), idField.copy(name = "id_b"),
        StructField("cos", DoubleType, true),
        StructField("rank", IntegerType, false))), out)
    }
  }

  /** Row `a`'s best `k` of `candidates` (row indices; `a` itself skipped)
    * by the Spark route's rounded cosine, in its `(cos desc, id_b)` order
    * ([[cosOrder]]; `rank` orders ids). Rounding is monotone, so only
    * candidates within 2e-6 of the k-th best unrounded non-null cosine can
    * reach the top k; only those and the null cosines (which sort last)
    * are rounded and sorted.
    */
  private def nearest(a: Int, candidates: Array[Int],
                      v: Array[Array[Double]], norm: Array[Double],
                      rank: Array[Int],
                      k: Int): Array[(Int, java.lang.Double)] = {
    val others = candidates.filter(_ != a)
    val raw = others.map { b =>
      val (x, y) = (v(a), v(b))
      val len = math.min(x.length, y.length)
      var d = 0.0
      var i = 0
      while (i < len) { d += x(i) * y(i); i += 1 }
      Cosine.of(d, norm(a), norm(b))
    }
    val defined = raw.filter(_ != null).map(_.doubleValue)
    val floor =
      if (defined.length <= k) Double.NegativeInfinity
      else {
        java.util.Arrays.sort(defined)
        defined(defined.length - k) - 2e-6
      }
    others.indices.iterator
      .filter(x => raw(x) == null || raw(x).isNaN || raw(x) >= floor)
      .map(x => (others(x), round6(raw(x))))
      .toArray
      .sortWith { case ((b1, c1), (b2, c2)) =>
        val c = cosOrder(c1, c2)
        if (c != 0) c < 0 else rank(b1) < rank(b2)
      }
      .take(k)
  }

  /** Spark's `round(x, 6)` of a double (HALF_UP on its decimal form). */
  private def round6(x: java.lang.Double): java.lang.Double =
    if (x == null || x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
}
