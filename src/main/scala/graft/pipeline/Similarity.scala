package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`). Brute-force cosine is the correctness baseline; the
  * scale path is sign-random-projection LSH bucketing (search only the
  * probe's bucket) — both pure column expressions, no UDFs.
  */
object Similarity {

  /** Codegen'd sequential Σ aᵢ·bᵢ ([[graft.functions.DotProductExpr]]) —
    * same summation order as the `aggregate(zip_with(...))` HOF form it
    * replaces, ~100× faster on O(n²) pair kernels.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k by cosine against one query vector: one scan, one
    * top-k (TakeOrdered — no full sort shuffle).
    */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Float], k: Int,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val q = typedLit(query.map(_.toDouble))
    embeddings.select(col(idCol),
        round(cosine(col(vecCol).cast("array<double>"), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

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
    bucketed
      .filter(col("bucket").isin(chosen.toSeq: _*))
      .select(col(idCol),
        round(cosine(col(vecCol).cast("array<double>"),
          typedLit(query.map(_.toDouble))), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
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
    * codegen'd nearest-centroid expression per row. Index build is one
    * count + one sampled collect, never `maxIter` full passes.
    */
  def ivfIndex(embeddings: DataFrame, nlist: Int = 64, seed: Long = 42L,
               vecCol: String = "embedding", fitSampleCap: Int = 100000,
               maxIter: Int = 10): (DataFrame, Array[Array[Double]]) = {
    val vecs = embeddings.select(col(vecCol).cast("array<double>"))
    val n = embeddings.count()
    require(n > 0, "ivfIndex: empty corpus")
    val sampled =
      if (n <= fitSampleCap) vecs
      else vecs.sample(withReplacement = false,
        math.min(1.0, fitSampleCap * 1.1 / n), seed).limit(fitSampleCap)
    val points = sampled.collect().map(_.getSeq[Double](0).toArray)
    val centers = KMeansLocal.fit(points, math.min(nlist, points.length),
      maxIter, seed)
    (embeddings.withColumn("list_id",
      nearestCentroid(col(vecCol).cast("array<double>"), centers)), centers)
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
              idCol: String = "vec_id"): DataFrame = {
    val q = query.map(_.toDouble).toArray
    val qn = math.sqrt(q.map(x => x * x).sum)
    val probes = centers.zipWithIndex.map { case (c, i) =>
      val dot = c.zip(q).map { case (x, y) => x * y }.sum
      val cn = math.sqrt(c.map(x => x * x).sum)
      i -> (if (cn == 0) -1.0 else dot / (cn * qn))
    }.sortBy(-_._2).take(nprobe).map(_._1)
    // the probe set as an array literal, not `isin`: generated code
    // inlines `isin` values, so every probe set would compile anew
    indexed.filter(array_contains(typedLit(probes.toSeq), col("list_id")))
      .select(col(idCol),
        round(cosineToQuery(col(vecCol).cast("array<double>"), q.toSeq), 6)
          .as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** `cosine(vec, typedLit(q))` for a per-call query `q`, as the same
    * double. Spark would fold ‖q‖ into a scalar literal, which generated
    * code inlines, so every query would compile anew; here ‖q‖ stays in
    * an array literal, multiplied in as the one-term dot product
    * `(‖vec‖)·(‖q‖)` (0.0 + x·y: exact).
    */
  private def cosineToQuery(vec: Column, q: Seq[Double]): Column = {
    val qn = math.sqrt(q.foldLeft(0.0)((acc, x) => acc + x * x))
    dot(vec, typedLit(q)) / dot(array(norm(vec)), typedLit(Seq(qn)))
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
    val n = embeddings.count()
    require(n > 0, "pqFit: empty corpus")
    val sampled =
      if (n <= fitSampleCap) vecs
      else vecs.sample(withReplacement = false,
        math.min(1.0, fitSampleCap * 1.1 / n), seed).limit(fitSampleCap)
    val points = sampled.collect().map(_.getSeq[Double](0).toArray)
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
    */
  def neighborsPerVector(embeddings: DataFrame, k: Int,
                         numPlanes: Int = 8, dim: Int = 64,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id",
                         maxBucketSize: Int = 4096): DataFrame = {
    // hoist the float→double cast and the self-norm ABOVE the pair join:
    // computed per pair they dominate the kernel (an array allocation +
    // two extra dot folds per candidate — measured ~3× the pair cost).
    // The per-pair value dot(a,b)/(n_a·n_b) is bit-identical to
    // [[cosine]] (same fold, same op order), so oracles are unaffected.
    val bucketed = lshBuckets(embeddings, numPlanes, dim, 42L, vecCol)
      .select(col("bucket"), col(idCol),
        transform(col(vecCol), _.cast("double")).as("_v"))
      .withColumn("_n", sqrt(dot(col("_v"), col("_v"))))
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"),
      col("_v").as("v_a"), col("_n").as("n_a"))
    val counts = bucketed.groupBy("bucket").count()
    val b = bucketed
      .join(broadcast(counts), Seq("bucket"))
      .filter(col("count") <= maxBucketSize ||
        pmod(xxhash64(col(idCol), col("bucket")), col("count"))
          < maxBucketSize)
      .select(col("bucket"), col(idCol).as("id_b"),
        col("_v").as("v_b"), col("_n").as("n_b"))
    val w = Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6)
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
