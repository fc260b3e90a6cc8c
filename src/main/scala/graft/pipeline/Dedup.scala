package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{DriverRoute, Trace}

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape: exact dedup is one hash-shuffle; the near-dup family
  * (MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine) all reduce the
  * O(n²) pair space to a band/bucket join before any pairwise work, so the
  * shuffle volume is O(n · bands), never O(n²).
  *
  * '''Route rule''' of [[minhashCandidates]], [[ngramJaccardPairsLsh]] and
  * [[nearDupClusters]]: each call collects the `doc_id`, shingle-set
  * size, MinHash signature and band bucket keys of its per-document rows
  * ([[signed]]) — never the shingles — through the bounded collect of
  * [[graft.core.DriverRoute.collectBounded]], when the call is made: with
  * no limit when Spark knows the corpus' row count (a local relation or a
  * built cache), not at all when that count is over the bound, and under
  * `limit(DriverMaxDocs + 1)` otherwise. A corpus of at most
  * `DriverMaxDocs` (50,000) rows with an integral `doc_id`, whose band
  * buckets yield at most `DriverMaxPairs` (10,000) distinct candidate
  * pairs, takes the DRIVER route: the band join, the distinct and the
  * component solve run on the driver, while the per-pair rules
  * (estimated Jaccard, size-ratio cut, exact verify) stay the Spark
  * route's own column expressions, evaluated over a local relation. The
  * verify of [[ngramJaccardPairsLsh]] then fetches, in a second Spark
  * job, the shingles of only the documents in size-ratio-surviving
  * candidates, if its pairs carry at most `DriverMaxShingles`
  * (1,000,000) shingles in all. The result is a local DataFrame; its own
  * use runs no Spark job. Any other corpus takes the SPARK route (bucket
  * self-join over [[stageCached]] intermediates, lazy as before), which
  * computes the per-document rows once more: the collect's pass, if one
  * ran, is not reused. Both routes build every per-row value (shingles,
  * hashes, signature, band key, `portable`) with the same expressions
  * ([[signed]]), so they return identical rows.
  */
object Dedup {

  /** Corpus rows the driver route takes (see the route rule above). At
    * 50,000 documents of 50 words (`local[4]`, 4 vCPUs) the driver route
    * still ran each operator 1.6–4× faster than the Spark route.
    */
  private final val DriverMaxDocs = 50000

  /** Distinct candidate pairs (`doc_a < doc_b` sharing a band bucket)
    * the driver route takes; past it the call takes the Spark route. The
    * per-pair expressions evaluate interpreted on one thread (about
    * 25 µs a pair for the estimate), while the Spark join pays a few µs.
    * Timed on the same box over 2,000 documents: at 10,000 pairs the
    * driver route still won every operator, both for pairs of identical
    * documents and for pairs sharing few bands (Jaccard ≈ 0.4); at
    * 50,000 identical-document pairs `minhashCandidates` lost.
    */
  private final val DriverMaxPairs = 10000

  /** Shingles the driver verify holds: Σ |A| + |B| over the candidate
    * row pairs it checks, as each pair row carries both shingle arrays.
    * Past it [[ngramJaccardPairsLsh]] takes the Spark route after the
    * driver band join, before any shingle leaves the executors. At
    * 1,000,000 the driver verify still won, both for 300 pairs of
    * 1,650-word documents and for 10,000 pairs of 50-word documents; at
    * 2,000,000 it tied over 20,000 short pairs.
    */
  private final val DriverMaxShingles = 1000000L

  /** Intermediates persisted by the near-dup builders (bucket/block/posting
    * relations referenced by both sides of a self-join). They must outlive
    * the returned lazy DataFrame, so the builders cannot unpersist them —
    * instead every persisted handle is registered here and the caller
    * releases them once the consuming action has materialized:
    * {{{  val pairs = Dedup.minhashCandidates(docs); pairs.write...;
    *      Dedup.releaseCaches()  }}}
    * Verify/Bench call this between entries so one query's cache never
    * pressures the next query's executors.
    *
    * Contract limits (JVM-global registry, deliberately simple): run ONE
    * dedup pipeline at a time per JVM — releaseCaches() drains every
    * registered handle, so concurrent pipelines would unpersist each
    * other's in-flight inputs (they recompute correctly, just slower).
    * A caller that never releases holds the staged frames for the JVM
    * lifetime; long-running services should release between pipelines
    * (or call `spark.catalog.clearCache()`, which subsumes this).
    */
  private val liveCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist an intermediate both self-join sides reference, and register
    * it for [[releaseCaches]]. At cluster scale this is a checkpoint to
    * storage instead of executor memory.
    */
  private def stageCached(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    liveCaches.add(p)
    p
  }

  /** Unpersist every intermediate staged by dedup builders since the last
    * release. Non-blocking: the block manager frees asynchronously.
    */
  def releaseCaches(): Unit = {
    var d = liveCaches.poll()
    while (d != null) { d.unpersist(false); d = liveCaches.poll() }
  }

  /** Exact duplicates by content hash: one groupBy shuffle on a 256-bit
    * digest. Returns (doc_id, canonical_id, n_copies) for every row in a
    * duplicate group; survivors are `doc_id == canonical_id` (min id wins).
    */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), sha2(col(textCol), 256).as("h"))
      .groupBy("h")
      .agg(min("doc_id").as("canonical_id"), count("*").as("n_copies"),
        collect_list("doc_id").as("ids"))
      .select(explode(col("ids")).as("doc_id"), col("canonical_id"),
        col("n_copies"))

  /** Keep one row per distinct content (exact dedup applied). */
  def exactSurvivors(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val keep = exact(docs, textCol)
      .filter(col("doc_id") === col("canonical_id")).select("doc_id")
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Word shingles of size n as an array column (distinct, first-occurrence
    * order). Native one-pass expression ([[graft.functions
    * .WordShinglesExpr]]) — the HOF formulation
    * (`array_distinct(transform(sequence, slice+concat_ws))`) interprets
    * its lambda per shingle and was the dominant cost of the n-gram family.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.VectorFunctions.word_shingles(lower(text), n)

  /** MinHash signature: `numHashes` permutation-style hashes
    * `min((a_j * x + b_j) mod p)` over 64-bit shingle hashes — the standard
    * MinHashLSH construction (same family as Spark MLlib's MinHashLSH,
    * re-expressed as codegen'd column ops).
    */
  private val MinhashPrime = 4294967291L // largest 32-bit prime

  /** Seeded (a, b) coefficient pairs; pmod(x,p) < 2^32 and a < 2^30, so
    * a*x + b < 2^63 (no ANSI overflow).
    */
  private def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Seq.fill(numHashes)(
      (rng.nextInt(1 << 30).toLong + 1L, rng.nextInt(1 << 30).toLong))
  }

  /** Closed-form coefficient pairs for the PORTABLE minhash mode:
    * Knuth-multiplicative residues of the hash index, replayable as
    * plain integer arithmetic by any engine (same bounds as the seeded
    * pairs: a in [1, 2^30], b in [0, 2^30)).
    */
  private[graft] def portableMinhashCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (1 to numHashes).map(j =>
      ((2654435761L * j) % (1L << 30) + 1L, (2246822519L * j) % (1L << 30)))

  /** MinHash signature from a precomputed ARRAY<LONG> of shingle hashes:
    * ONE pass over the array, folding a `numHashes`-wide accumulator with
    * `zip_with(acc, hashes_of(x), least)`. Keeping it single-pass matters:
    * n separate `array_min(transform(...))` calls would re-walk the shingle
    * array n times per row.
    */
  def minhashSignatureFromHashes(sh: Column, numHashes: Int): Column =
    graft.functions.VectorFunctions.minhash_signature(sh,
      minhashCoeffs(numHashes), MinhashPrime)

  def minhashSignature(text: Column, shingleSize: Int,
                       numHashes: Int): Column =
    minhashSignatureFromHashes(
      transform(shingles(text, shingleSize), s => xxhash64(s)), numHashes)

  /** MinHash + LSH banding: split the signature into `bands` bands, hash
    * each band, and emit one (band_idx, band_hash) bucket key per doc —
    * docs sharing any bucket are candidate near-duplicates. The candidate
    * join is an equi-join on the bucket key (shuffle O(n·bands)).
    *
    * Returns candidate pairs (doc_a < doc_b) with their estimated Jaccard
    * (fraction of matching minhashes).
    */
  /** `portable = true` switches every hash in the construction to
    * engine-replayable arithmetic — FNV shingle hashes
    * ([[portableTokenHash]]), closed-form (a, b) coefficients, and the
    * raw band-slice STRING as the bucket key (no band hash at all, so
    * bucket membership is exact slice equality) — which is what lets
    * q_dedup_minhash be oracle-checked bit-for-bit by DuckDB. The
    * default stays the seeded xxhash construction the dedup pipeline
    * queries' recall contracts were pinned against.
    */
  def minhashCandidates(docs: DataFrame, textCol: String = "text",
                        shingleSize: Int = 3, numHashes: Int = 32,
                        bands: Int = 8,
                        portable: Boolean = false): DataFrame =
    Trace.span("dedup.minhash") { h =>
      val sg = signed(docs, textCol, shingleSize, numHashes, portable,
        withShingles = false)
      val keys = bandKeys(numHashes, bands, portable)
      routed(sg, keys, Seq("sig"), h) { b =>
        Some(DriverRoute.local(withEstimate(b.frame(b.pairs, Seq("sig")),
          numHashes, Nil), distinct = true))
      } {
        withEstimate(bandJoin(sg, keys, Seq("sig")), numHashes, Nil)
          .distinct()
      }
    }

  /** The per-document rows both routes band: `doc_id`, the shingle-set
    * size `sz`, the MinHash signature `sig` and, for the exact verify,
    * the shingles `sh`. With [[bandKeys]], every per-row rule
    * (shingling, hashing, signature, band key, `portable`) has this one
    * definition. The shingle array is its own column, so the signature
    * fold walks a materialized array (CollapseProject keeps
    * multi-referenced non-cheap expressions staged).
    */
  private def signed(docs: DataFrame, textCol: String, shingleSize: Int,
                     numHashes: Int, portable: Boolean,
                     withShingles: Boolean): DataFrame = {
    val shingleHash: Column => Column =
      if (portable) portableTokenHash else xxhash64(_)
    val coeffs =
      if (portable) portableMinhashCoeffs(numHashes)
      else minhashCoeffs(numHashes)
    docs.select(col("doc_id"), shingles(col(textCol), shingleSize).as("sh"))
      .select(Seq(col("doc_id"), size(col("sh")).as("sz"),
        graft.functions.VectorFunctions.minhash_signature(
          transform(col("sh"), s => shingleHash(s)), coeffs,
          MinhashPrime).as("sig")) ++
        (if (withShingles) Seq(col("sh")) else Nil): _*)
  }

  /** One bucket key per band of the `sig` column. Kept an expression,
    * never a column the Spark route explodes: Spark infers a
    * `size(keys) > 0` filter for an exploded column and pushes it below
    * the projection, where it re-evaluates the signature once per band.
    */
  private def bandKeys(numHashes: Int, bands: Int,
                       portable: Boolean): Column = {
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)), { b =>
      val band = concat_ws("_", slice(col("sig"), b * rows + 1, lit(rows)))
      if (portable) band else xxhash64(band)
    })
  }

  /** The Spark route's band join: rows sharing a `(band, bucket)` key
    * meet in one equi-join (shuffle O(n·bands)), `doc_a < doc_b`, with
    * each `carry` column suffixed `_a`/`_b`. The exploded buckets are
    * materialized once (registered for releaseCaches): both self-join
    * sides would otherwise re-evaluate the shingle→minhash tree.
    */
  private def bandJoin(sg: DataFrame, keys: Column,
                       carry: Seq[String]): DataFrame = {
    val buckets = stageCached(sg.select(Seq(col("doc_id")) ++
        carry.map(col) :+ posexplode(keys): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"))
    def side(s: String) = buckets.select(Seq(col("band"), col("bucket"),
      col("doc_id").as(s"doc_$s")) ++ carry.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Doc pairs with their estimated Jaccard (fraction of equal minhashes)
    * and the `carry` columns of both sides.
    */
  private def withEstimate(pairs: DataFrame, numHashes: Int,
                           carry: Seq[String]): DataFrame =
    pairs.select(Seq(col("doc_a"), col("doc_b")) ++
      carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))) :+
      (size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => x === y), b => b)).cast("double") /
        lit(numHashes.toDouble)).as("est_jaccard"): _*)

  /** The route choice shared by the three LSH operators (see the route
    * rule): collect `doc_id`, `carry` and the band `keys` of `sg` under
    * the document bound and band them on the driver under the pair budget.
    * `driver` finishes the driver route from there, or gives `None` to
    * take the Spark route partway; `viaSpark` builds the Spark route.
    * Sets the span's `route`, `docs` and `pairs`.
    */
  private def routed(sg: DataFrame, keys: Column, carry: Seq[String],
                     h: Trace.Handle)(
      driver: Banded => Option[DataFrame])(
      viaSpark: => DataFrame): DataFrame = {
    val integral = sg.schema("doc_id").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val out =
      if (!integral) None
      else {
        val sel = sg.select(("doc_id" +: carry).map(col) :+ keys.as("keys"): _*)
        DriverRoute.collectBounded(sel, DriverMaxDocs, h, "docs")
          .flatMap(rows => bandPairsDriver(rows, carry.size + 1, h)
            .flatMap(p => driver(Banded(sg.sparkSession, rows, sel.schema, p))))
      }
    h.set("route", if (out.isDefined) "driver" else "spark")
    out.getOrElse(viaSpark)
  }

  /** Band join over collected rows: row-index pairs `(i, j)` sharing a
    * `(band, bucket)` key with `doc(i) < doc(j)`, each once. `None` past
    * `DriverMaxPairs` of them, counted as they are found, so a crowded
    * bucket stops the enumeration early; the span's `pairs` is the count
    * (`DriverMaxPairs + 1` when over).
    */
  private def bandPairsDriver(rows: Array[Row], keysAt: Int,
                              h: Trace.Handle): Option[Array[(Int, Int)]] = {
    val groups = scala.collection.mutable.HashMap[(Int, Any),
      scala.collection.mutable.ArrayBuffer[Int]]()
    rows.indices.foreach { i =>
      // a null doc_id or key never meets the join/filter of the Spark route
      if (!rows(i).isNullAt(0) && !rows(i).isNullAt(keysAt))
        rows(i).getSeq[Any](keysAt).iterator.zipWithIndex.foreach {
          case (k, band) if k != null =>
            groups.getOrElseUpdate((band, k),
              scala.collection.mutable.ArrayBuffer[Int]()) += i
          case _ =>
        }
    }
    val id = rows.map(r =>
      if (r.isNullAt(0)) 0L else r.getAs[Number](0).longValue)
    val seen = scala.collection.mutable.HashSet[Long]()
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    def open = out.size <= DriverMaxPairs
    for (g <- groups.valuesIterator.takeWhile(_ => open);
         x <- g.indices.iterator.takeWhile(_ => open);
         y <- (x + 1 until g.size).iterator.takeWhile(_ => open)) {
      val (i, j) = (g(x), g(y))
      if (id(i) != id(j)) {
        val (lo, hi) = if (id(i) < id(j)) (i, j) else (j, i)
        if (seen.add(lo.toLong << 32 | hi)) out += ((lo, hi))
      }
    }
    h.set("pairs", out.size.toLong)
    if (open) Some(out.toArray) else None
  }

  /** Collected rows (`doc_id` first, then the columns `schema` names)
    * and pairs of their indices.
    */
  private final case class Banded(spark: SparkSession, rows: Array[Row],
                                  schema: StructType,
                                  pairs: Array[(Int, Int)]) {
    /** Row pairs as a local relation named like the Spark band join's
      * output: `doc_a`, `doc_b`, then each `carry` column suffixed `_a`,
      * then `_b`. Column expressions over it run on the driver (Spark
      * folds projections and filters of a local relation without a job).
      */
    def frame(of: Iterable[(Int, Int)], carry: Seq[String]): DataFrame = {
      val at = carry.map(schema.fieldIndex)
      val fields = Seq(schema("doc_id").copy(name = "doc_a"),
        schema("doc_id").copy(name = "doc_b")) ++ Seq("a", "b").flatMap(s =>
          carry.map(c => schema(c).copy(name = s"${c}_$s")))
      val out = of.iterator.map { case (i, j) =>
        Row.fromSeq(Seq(rows(i).get(0), rows(j).get(0)) ++
          at.map(rows(i).get) ++ at.map(rows(j).get))
      }.toSeq
      spark.createDataFrame(out.asJava, StructType(fields))
    }
  }

  /** Exact Jaccard of two distinct shingle arrays given their sizes, with
    * ONE `array_intersect`: the intersection size is bound to a lambda
    * variable, so a filter on this column compares the very value a row
    * reports. (The cross-multiplied form `c·(1+t) ≥ t·(|A|+|B|)` it
    * replaces is a different double: it dropped pairs reporting exactly
    * t for t = 0.2, 0.4, 0.8 and 0.9 — 9 of 10 shingles shared at
    * t = 0.9 gave 17.099999999999998 < 17.1.)
    */
  private def jaccard(shA: Column, shB: Column, szA: Column,
                      szB: Column): Column =
    element_at(transform(array(size(array_intersect(shA, shB))),
      c => c.cast("double") / (szA + szB - c).cast("double")), 1)

  /** Size-ratio necessary condition: jaccard(A,B) ≤ min(|A|,|B|) /
    * max(|A|,|B|) (|A∩B| ≤ min, |A∪B| ≥ max), so a pair with
    * min < threshold·max can never verify. The ≥ keeps every boundary
    * pair, so cutting here never changes the output.
    */
  private def sizeRatioOk(threshold: Double): Column =
    least(col("sz_a"), col("sz_b")).cast("double") >=
      lit(threshold) * greatest(col("sz_a"), col("sz_b"))

  /** The exact verify of candidate pairs carrying `sh`/`sz` per side. */
  private def verified(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"),
        col("sh_b"), col("sz_a"), col("sz_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Engine-portable 64-bit token hash: two 32-bit FNV-1a folds over
    * code points packed (hi << 32) | lo — plain integer arithmetic any
    * engine replays exactly, so simhash fingerprints computed here are
    * reproducible ACROSS engines (they get persisted and compared
    * incrementally, where an engine-private hash like xxhash64's Spark
    * seeding would silently diverge). One pass, no allocation — costs
    * what xxhash64 did in the interpreted HOF lambda path.
    */
  def portableTokenHash(t: Column): Column =
    graft.functions.VectorFunctions.fnv_long64(t)

  /** 64-bit SimHash over token hashes: per bit, sum +1/−1 across tokens,
    * bit set where the sum is positive. Near-dups have small Hamming
    * distance; pairs are blocked on 4 16-bit sub-keys (any exact sub-key
    * match → candidate), the classic simhash sharding trick. Token hash
    * = [[portableTokenHash]] (dual 32-bit FNV-1a over code points), so
    * fingerprints are stable across engines and releases.
    */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(TextAnalysis.tokens(text),
      t => portableTokenHash(t)))

  /** SimHash from a precomputed ARRAY<LONG> of token hashes — native
    * expression ([[graft.functions.SimhashExpr]]): one tight loop per row.
    */
  def simhashFromHashes(hashes: Column): Column =
    graft.functions.VectorFunctions.simhash64(hashes)

  /** SimHash near-dup candidates: block on 16-bit sub-keys, verify by
    * Hamming distance ≤ `maxHamming`.
    */
  def simhashCandidates(docs: DataFrame, textCol: String = "text",
                        maxHamming: Int = 8): DataFrame = {
    val sh = docs
      .select(col("doc_id"), transform(TextAnalysis.tokens(col(textCol)),
        t => portableTokenHash(t)).as("_h"))
      .select(col("doc_id"), simhashFromHashes(col("_h")).as("sh"))
    // materialize once (registered for releaseCaches): the 64 per-bit
    // aggregates are expensive and both self-join sides reference them
    val blocked = stageCached(sh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "block").withColumnRenamed("col", "key"))
    val a = blocked.select(col("block"), col("key"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = blocked.select(col("block"), col("key"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("block", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity for all pairs within a blocking key
    * (default: same `lang`) — the verification stage of near-dup dedup.
    * Blocking keeps the pair space tractable; at 100 TB the blocking key
    * would be an LSH bucket from [[minhashCandidates]] instead of a
    * metadata column.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
                        n: Int = 3, blockCol: String = "lang",
                        threshold: Double = 0.0): DataFrame = {
    // Sparse formulation: explode shingles into a posting list, equi-join
    // postings on (block, shingle), count common shingles per pair, then
    // |A∩B| / (|A|+|B|−|A∩B|). Work scales with Σ posting-list sizes (the
    // data), never with the O(n²) dense pair space — the difference between
    // 100 s and 3 s at sf0.1, and between feasible and not at 100 TB.
    // Pairs sharing no shingle have jaccard 0 and are (correctly) absent;
    // a zero threshold would also report nothing for them.
    require(threshold > 0.0,
      "sparse jaccard emits only pairs with at least one common shingle")
    val withSh = docs
      .select(col("doc_id"), col(blockCol).as("block"),
        shingles(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
    // materialize the posting list once (registered for releaseCaches):
    // both self-join sides reference it
    val posting = stageCached(withSh.select(col("block"), col("doc_id"),
      col("sz"), explode(col("sh")).as("g")))
    val a = posting.select(col("block"), col("g"),
      col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val b = posting.select(col("block"), col("g"),
      col("doc_id").as("doc_b"), col("sz").as("sz_b"))
    a.join(b, Seq("block", "g"))
      .filter(col("doc_a") < col("doc_b"))
      // size-ratio necessary condition (r17, guide §3, same cut as the
      // LSH verify): dropping hopeless posting-match rows HERE (Catalyst
      // pushes this into the join condition) shrinks the pair
      // aggregation's input without changing the output
      .filter(sizeRatioOk(threshold))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("common"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact duplicated-SUBSTRING spans (character shingles), the
    * within-document granularity of Lee et al. 2022's "Deduplicating
    * Training Data" — a document that merely EMBEDS a copied passage
    * slips past whole-document dedup, but its duplicated span shows up
    * here. For every document (≥ k chars), every k-char shingle at
    * positions 1, 1+stride, … is checked for occurrence in ANY OTHER
    * document; duplicated positions then merge into maximal runs
    * (consecutive stride-spaced positions), and the result is one row
    * per affected document: total shingles, duplicated shingles, merged
    * span count, and the char width those spans cover
    * (`max−min+k` per run).
    *
    * Scale shape: the only data-sized shuffles are the shingle groupBy
    * and the posting join back — both keyed on the shingle, so work
    * scales with corpus chars/stride, never with the pair space. The
    * run-merge is a per-document window (partition = doc). At 100 TB:
    * raise `stride` (span boundaries coarsen to ±stride) and set
    * `hashed=true` so the shuffle carries 8-byte xxhash64 keys instead
    * of k-char strings — a false merge needs a 64-bit collision AND
    * co-location, vanishingly rare and harmless for a dedup *detector*.
    * (The oracle query runs `hashed=false` so DuckDB can mirror it;
    * PipelineSpec pins hashed ≡ raw on the test corpus.)
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 40, stride: Int = 1,
                      hashed: Boolean = true,
                      textCol: String = "text"): DataFrame = {
    require(k >= 2 && stride >= 1, "duplicatedSpans: k >= 2, stride >= 1")
    val eligible = docs.filter(length(col(textCol)) >= k)
    // native one-pass shingler (rolling hash in hashed mode): the HOF
    // formulation (transform(sequence, p -> struct(p, substr))) interprets
    // its lambda per window — the dominant cost of this operator at bench
    // scale, same pathology WordShinglesExpr fixed for the n-gram family
    val sh = eligible.select(
      col("doc_id"),
      explode(graft.functions.VectorFunctions.char_shingles(
        col(textCol), k, stride, hashed)).as("ps"))
      .select(col("doc_id"), col("ps.pos").as("pos"), col("ps.sub").as("sub"))
    // "appears in more than one distinct doc" ⟺ min(doc_id) ≠ max(doc_id)
    // over the shingle's group — evaluated as ONE window over the single
    // exploded relation (r17, guide §2.3/§2.4): the agg+join-back form ran
    // the corpus shingle explode TWICE (once for the per-sub aggregate,
    // once for the join side) and paid a second exchange for the join.
    // The window shuffles the same posting rows once and streams the
    // min/max per sub with no join at all. Identical rows out: a posting
    // survives iff its sub's group has ≥2 distinct docs, same as before.
    val wSub = org.apache.spark.sql.expressions.Window.partitionBy("sub")
    val dp = sh
      .withColumn("_mn", min("doc_id").over(wSub))
      .withColumn("_mx", max("doc_id").over(wSub))
      .filter(col("_mn") =!= col("_mx"))
      .select("doc_id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val isl = dp.withColumn("grp",
      col("pos") - (row_number().over(w) - 1) * stride)
    val spans = isl.groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"))
    val tot = eligible.select(col("doc_id"),
      (length(col(textCol)) - (k - 1)).as("n_shingles"))
    spans.groupBy("doc_id")
      .agg(sum("n").as("n_dup_shingles"), count(lit(1)).as("n_spans"),
        sum(col("mx") - col("mn") + k).as("dup_chars"))
      .join(tot, Seq("doc_id"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup_shingles"),
        col("n_spans"), col("dup_chars"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): hash every k-char shingle, then from every window of
    * `w` consecutive positions keep the MINIMUM hash (rightmost on
    * ties). Guarantees: any shared substring of length ≥ k + w − 1
    * yields at least one shared fingerprint (detection), and ~2/(w+1)
    * of positions are kept (density) — the robust sampled alternative
    * to full substring postings for plagiarism/attribution-style dedup.
    *
    * Shape: the shingle pass is the native one-pass rolling hasher; the
    * per-window argmin is ONE window function over (doc, pos) — the
    * lexicographic min of (hash, −pos) structs gives rightmost-tie
    * semantics — followed by a distinct. Work is corpus-linear.
    */
  def winnowedFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4,
                           textCol: String = "text"): DataFrame = {
    require(w >= 1, "winnow: window >= 1")
    val sh = docs
      .select(col("doc_id"),
        explode(graft.functions.VectorFunctions.char_shingles(
          lower(col(textCol)), k, 1, hashed = true)).as("ps"))
      .select(col("doc_id"), col("ps.pos").as("pos"), col("ps.sub").as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sh.withColumn("_n", count(lit(1)).over(win))
      .withColumn("_sel", min(struct(col("h"), (-col("pos")).as("np")))
        .over(win))
      .filter(col("_n") === w) // only complete windows select
      .select(col("doc_id"), (-col("_sel.np")).as("pos"),
        col("_sel.h").as("h"))
      .distinct()
  }

  /** The 100 TB n-gram verification path: block candidate pairs on
    * MinHash-LSH buckets instead of a metadata column, then verify each
    * candidate with EXACT n-gram Jaccard. A metadata block key (e.g.
    * `lang`) puts ~the whole corpus in one skewed block at scale; LSH
    * buckets stay balanced and recall is tunable via (numHashes, bands).
    * Output ⊆ the metadata-blocked exact result, within LSH recall.
    */
  def ngramJaccardPairsLsh(docs: DataFrame, textCol: String = "text",
                           n: Int = 3, threshold: Double = 0.5,
                           numHashes: Int = 32, bands: Int = 8): DataFrame =
    Trace.span("dedup.lsh_verify") { h =>
      // ONE shingle pass feeds both the banding (via hashed signatures)
      // and the exact-Jaccard verify sides. `sz` rides along so the
      // size-ratio cut drops candidate pairs BEFORE the heavy shingle
      // arrays are re-attached.
      val sg = signed(docs, textCol, n, numHashes, portable = false,
        withShingles = true)
      val keys = bandKeys(numHashes, bands, portable = false)
      routed(sg, keys, Seq("sz", "sig"), h) { b =>
        val candidates = withEstimate(b.frame(b.pairs, Seq("sz", "sig")),
          numHashes, Seq("sz")).filter(sizeRatioOk(threshold))
          .collect().distinct
        // the verify joins each candidate to EVERY row of its two doc_ids,
        // as the Spark route's joins on doc_id do
        val sizes = b.rows.groupBy(_.get(0)).map { case (d, rs) =>
          d -> rs.map(r => if (r.isNullAt(1)) 0L else r.getAs[Number](1)
            .longValue) }
        val held = candidates.iterator.map { c =>
          val (a, z) = (sizes(c.get(0)), sizes(c.get(1)))
          a.sum * z.length + z.sum * a.length
        }.sum
        h.set("shingles", held)
        if (held > DriverMaxShingles) None
        else Some {
          // the filter on doc_id runs below the shingling, so only these
          // documents are shingled again
          val fetch = sg.select("doc_id", "sh", "sz")
          val ids = candidates.iterator.flatMap(c => Seq(c.get(0), c.get(1)))
            .toSet[Any]
          val rows =
            if (ids.isEmpty) Array.empty[Row]
            else fetch.filter(inSet(col("doc_id"), ids)).collect()
          val rowsOf = rows.indices.groupBy(i => rows(i).get(0))
          val pairs = candidates.toSeq.flatMap(c =>
            for (i <- rowsOf(c.get(0)); j <- rowsOf(c.get(1))) yield (i, j))
          DriverRoute.local(verified(Banded(b.spark, rows, fetch.schema,
            pairs.toArray).frame(pairs, Seq("sh", "sz")), threshold))
        }
      } {
        val staged = stageCached(sg)
        val candidates = withEstimate(
            bandJoin(staged, keys, Seq("sz", "sig")), numHashes, Seq("sz"))
          .distinct()
          .filter(sizeRatioOk(threshold))
          .select("doc_a", "doc_b")
        def side(s: String) = staged.select(col("doc_id").as(s"doc_$s"),
          col("sh").as(s"sh_$s"), col("sz").as(s"sz_$s"))
        verified(candidates.join(side("a"), Seq("doc_a"))
          .join(side("b"), Seq("doc_b")), threshold)
      }
    }

  /** `c IN ids`, built as Spark's own `InSet`: for a `long` column the
    * set is a reference in the generated code, so a new id set compiles
    * nothing (an `isin` of literals writes every value into the code).
    */
  private def inSet(c: Column, ids: Set[Any]): Column =
    GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        GraftColumnBridge.expression(c), ids))

  /** Near-duplicate *clusters*: MinHash-LSH candidate pairs (filtered by
    * estimated Jaccard) collapsed into connected components, so that
    * transitive chains A~B~C dedup to one canonical doc even when A~C was
    * never a candidate pair. Returns one row per input doc:
    * `(doc_id, cluster_id)` with `cluster_id` = min doc_id of the
    * component (singletons label themselves). Survivors of the dedup are
    * `doc_id == cluster_id`. On the driver route the components are
    * solved by [[ConnectedComponents.unionFind]].
    */
  def nearDupClusters(docs: DataFrame, textCol: String = "text",
                      shingleSize: Int = 3, numHashes: Int = 32,
                      bands: Int = 8,
                      minEstJaccard: Double = 0.5): DataFrame =
    Trace.span("dedup.clusters") { h =>
      val sg = signed(docs, textCol, shingleSize, numHashes,
        portable = false, withShingles = false)
      val keys = bandKeys(numHashes, bands, portable = false)
      routed(sg, keys, Seq("sig"), h) { b =>
        def id(r: Row, i: Int) = r.getAs[Number](i).longValue
        val label = ConnectedComponents.unionFind(
          withEstimate(b.frame(b.pairs, Seq("sig")), numHashes, Nil)
            .filter(col("est_jaccard") >= minEstJaccard)
            .collect().iterator.map(r => (id(r, 0), id(r, 1))))
        val rows = b.rows.toSeq.map(r =>
          if (r.isNullAt(0)) Row(null, null)
          else Row(r.get(0), label.getOrElse(id(r, 0), id(r, 0))))
        val docId = b.schema("doc_id")
        Some(b.spark.createDataFrame(rows.asJava,
          StructType(Seq(docId,
            StructField("cluster_id", LongType, docId.nullable)))))
      } {
        val pairs = withEstimate(bandJoin(sg, keys, Seq("sig")), numHashes,
          Nil)
          .distinct().filter(col("est_jaccard") >= minEstJaccard)
        docs.select(col("doc_id")).join(
            ConnectedComponents.run(pairs).withColumnRenamed("id", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      }
    }

  /** Embedding-cosine near-duplicates: exact all-pairs with cosine ≥
    * threshold, as a '''block-matrix similarity join''' — never a row-pair
    * cross join. Vectors hash into `numBlocks` blocks; the O(m²) block
    * pairs (m = numBlocks) join as single rows and a native kernel
    * ([[graft.functions.CosinePairsExpr]]) evaluates the B×B cosine tile
    * with per-block-precomputed norms, emitting only qualifying pairs.
    *
    * Why this shape at 100 TB: a row-pair cross join ships every vector
    * n times and pays row machinery per pair; the block join ships every
    * vector m times (m ≪ n) and the pair loop is a tight JVM kernel.
    * Exact cosine join is inherently Ω(n²) FLOPs — when the threshold is
    * high (≥ ~0.7), cut the pair space first with
    * [[Similarity.lshBuckets]] and use this as the verify stage.
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id",
                        numBlocks: Int = 16): DataFrame =
    blockPairs(embeddings, Nil, threshold, vecCol, idCol, numBlocks)

  /** The block-pair join of [[embeddingNearDups]] and of [[semanticDedup]]'s
    * centroid mode: `(id_a, id_b, cos)` for every pair with cos ≥
    * `threshold` ([[graft.functions.CosinePairsExpr]]) that agrees on the
    * columns `keys` (none, or `list_id`). Vectors hash into `numBlocks`
    * blocks per key; the upper-triangle block pairs enumerate as a tiny
    * broadcast relation and each side equi-joins on its block and the
    * keys: hash joins that distribute block rows to their tiles.
    * A `blk_a <= blk_b` theta-join would plan a BroadcastNestedLoopJoin
    * and broadcast EVERY vector (PlanCheckSpec guards this); no constant
    * key stands in for `keys = Nil`, as the optimizer may drop a foldable
    * key and plan a Cartesian product.
    */
  private def blockPairs(embeddings: DataFrame, keys: Seq[String],
                         threshold: Double, vecCol: String, idCol: String,
                         numBlocks: Int): DataFrame = {
    val idType = embeddings.schema(idCol).dataType
    require(idType.isInstanceOf[NumericType],
      s"the embedding near-dup join needs a numeric id column; '$idCol' " +
        s"is ${idType.simpleString} — add a monotonically_increasing_id() " +
        "surrogate first")
    val blocks = embeddings.select(keys.map(col) ++ Seq(
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"),
        pmod(xxhash64(col(idCol).cast("long")), lit(numBlocks)).cast("int")
          .as("blk")): _*)
      .groupBy(keys.map(col) :+ col("blk"): _*)
      .agg(collect_list(struct(col("id"), col("v"))).as("vecs"))
    def side(s: String) = blocks.select(keys.map(col) ++ Seq(
      col("blk").as(s"blk_$s"), col("vecs").as(s"vecs_$s")): _*)
    val pairDf = embeddings.sparkSession.createDataFrame(
      (for { i <- 0 until numBlocks; j <- i until numBlocks }
        yield Row(i, j)).asJava,
      StructType(Seq(StructField("blk_a", IntegerType),
        StructField("blk_b", IntegerType))))
    broadcast(pairDf).join(side("a"), Seq("blk_a"))
      .join(side("b"), keys :+ "blk_b")
      .select(explode(graft.functions.VectorFunctions.cosine_pairs(
        col("vecs_a"), col("vecs_b"), col("blk_a") === col("blk_b"),
        threshold)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cos").as("cos"))
  }

  /** INCREMENTAL near-dup dedup — the steady-state production shape:
    * screen a NEW batch against an existing corpus without re-pairing
    * the corpus with itself. New docs' minhash band buckets equi-join
    * the corpus's band buckets (plus the new batch's own, so
    * within-batch dups are caught too); candidates verify by exact
    * n-gram Jaccard. Cost scales with the BATCH (its bands, its
    * candidate pairs), never corpus² — the corpus side contributes one
    * bucket scan. Returns one row per new doc: `(doc_id, kept,
    * dup_of)` — `dup_of` the smallest matched id (corpus or
    * earlier-in-batch), null when kept.
    */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
                          textCol: String = "text",
                          shingleSize: Int = 3, threshold: Double = 0.5,
                          numHashes: Int = 32,
                          bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    def banded(df: DataFrame) = stageCached(df
      .select(col("doc_id"),
        shingles(col(textCol), shingleSize).as("sh"))
      .withColumn("_sh", transform(col("sh"), s => xxhash64(s)))
      .withColumn("sig", minhashSignatureFromHashes(col("_sh"), numHashes))
      .withColumn("sz", size(col("sh")))
      .select(col("doc_id"), col("sh"), col("sz"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_",
            slice(col("sig"), b * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"))
    val nb = banded(newDocs)
    val cb = banded(corpus)
    // candidate = a new doc sharing any band bucket with the corpus or
    // with a SMALLER-id new doc (batch-internal dups resolve min-first)
    val vs = cb.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("sz").as("sz_b"))
      .unionByName(nb.select(col("band"), col("bucket"),
        col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")))
    val cand = nb.select(col("band"), col("bucket"),
        col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a"))
      .join(vs, Seq("band", "bucket"))
      .filter(col("doc_a") =!= col("doc_b"))
      // same size-ratio necessary-condition cut as ngramJaccardPairsLsh
      // (r17): drop hopeless pairs before the array-carrying distinct and
      // the intersect
      .filter(sizeRatioOk(threshold))
      .select("doc_a", "doc_b", "sh_a", "sh_b", "sz_a", "sz_b")
      .distinct()
      .filter(jaccard(col("sh_a"), col("sh_b"), col("sz_a"), col("sz_b")) >=
        threshold)
    // a new doc is a dup of the smallest matched id; batch-internal
    // matches only count against SMALLER new ids (min-first survival)
    val newIds = newDocs.select(col("doc_id").as("doc_a"))
    val dupOf = cand
      .join(newDocs.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_semi")
      .filter(col("doc_b") < col("doc_a"))
      .unionByName(cand.join(
        corpus.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_semi"))
      .groupBy("doc_a").agg(min("doc_b").as("dup_of"))
    newIds.join(dupOf, Seq("doc_a"), "left")
      .select(col("doc_a").as("doc_id"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** End-to-end corpus dedup in one call — the composed pipeline a
    * user of this library runs on a raw crawl:
    *   1. EXACT pass (sha-256 groupBy): byte-identical copies collapse
    *      to the min-id canonical;
    *   2. NEAR-DUP pass over the exact survivors: MinHash-LSH candidate
    *      generation → exact n-gram-Jaccard verify at `threshold` →
    *      connected components, so transitive chains A~B~C keep ONE
    *      representative.
    * Returns one row per input doc: `(doc_id, kept, reason,
    * canonical_id)` — `reason` ∈ keep | exact_dup | near_dup names WHY a
    * drop happened (the audit trail reviewers ask for), `canonical_id`
    * the surviving representative. Every stage is the bucket/band-joined
    * shape of its standalone operator; nothing here adds a shuffle the
    * parts didn't already have. Call [[releaseCaches]] after the
    * consuming action.
    */
  def dedupPipeline(docs: DataFrame, textCol: String = "text",
                    shingleSize: Int = 3, threshold: Double = 0.5,
                    numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val ex = exact(docs, textCol) // (doc_id, canonical_id, n_copies)
    val exactSurv = docs.join(
      ex.filter(col("doc_id") === col("canonical_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val verified = ngramJaccardPairsLsh(exactSurv, textCol, shingleSize,
      threshold, numHashes, bands).select("doc_a", "doc_b")
    val labels = ConnectedComponents.run(verified)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("cluster_id", "near_canonical")
    val nearOf = exactSurv.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("near_canonical"), col("doc_id"))
          .as("near_canonical"))
    // exact drops chain THROUGH their canonical's near-dup resolution:
    // if B == A byte-wise and A ~ C, B's final canonical is C's
    ex.select(col("doc_id"), col("canonical_id").as("exact_canonical"))
      .join(nearOf.withColumnRenamed("doc_id", "exact_canonical"),
        Seq("exact_canonical"))
      .select(col("doc_id"), col("exact_canonical"),
        col("near_canonical").as("canonical_id"))
      .withColumn("kept", col("doc_id") === col("canonical_id"))
      .withColumn("reason",
        when(col("kept"), "keep")
          .when(col("doc_id") =!= col("exact_canonical"), "exact_dup")
          .otherwise("near_dup"))
      .select(col("doc_id"), col("kept"), col("reason"),
        col("canonical_id"))
  }

  /** '''SemDeDup''' (Abbas et al. 2023): semantic deduplication of an
    * embedded corpus — drop all but one member of every group of
    * semantically near-identical documents. Returns one row per vector:
    * `(id, group_id, keep)` with `group_id` = min id of the connected
    * component of ≥-threshold cosine pairs, `keep` = (id == group_id).
    *
    * Two modes:
    *  - `numCentroids <= 1` — exact: global block-matrix cosine pairs
    *    ([[embeddingNearDups]]). Ω(n²) FLOPs; the ORACLE mode.
    *  - `numCentroids > 1` — the paper's scale shape: a k-means coarse
    *    quantizer (fit on a bounded sample, one codegen'd assignment
    *    pass — [[Similarity.ivfIndex]] machinery) partitions the corpus,
    *    and pairs are searched only WITHIN each centroid's cell. FLOPs
    *    drop to Σ|cell|² ≈ n²/k; cross-cell near-dups are missed by
    *    construction (the paper's documented recall trade). Within each
    *    cell the pair search is still the block-matrix kernel, keyed on
    *    `(centroid, block)`, so a giant cell never becomes one task:
    *    the per-cell block-pair relation is `k·m²` broadcast rows.
    *
    * Both modes end with the same O(log n) connected-components solve,
    * so chains A~B~C collapse to one survivor either way.
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
                    vecCol: String = "embedding", idCol: String = "vec_id",
                    numCentroids: Int = 0, numBlocks: Int = 8,
                    seed: Long = 42L): DataFrame = {
    val pairs = (if (numCentroids <= 1)
        embeddingNearDups(embeddings, threshold, vecCol, idCol)
      else blockPairs(Similarity.ivfIndex(embeddings, nlist = numCentroids,
          seed = seed, vecCol = vecCol)._1, Seq("list_id"), threshold, vecCol,
        idCol, numBlocks))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val labels = ConnectedComponents.run(pairs)
      .withColumnRenamed("id", idCol)
    embeddings.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("group_id"))
      .withColumn("keep", col(idCol) === col("group_id"))
  }
}
