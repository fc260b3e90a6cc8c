package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Similarity}

/** Pipeline-operator behavior over the driver-generated fixtures —
  * properties the SQL oracle can't express (ANN recall, LSH candidate
  * containment).
  */
class PipelineSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.01"

  test("multi-probe ANN recall >= 0.9 vs brute force on the fixture") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val k = 20
    val brute = Similarity.bruteForceTopK(emb, query, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // the fixture's true neighbors sit at cos ~0.35-0.5 (weak cluster
    // structure): sign bits correlate weakly, so the probe has to widen a
    // lot — exactly the recall/cost knob multi-probe exposes. Low factors
    // stay cheap (single bucket); this asserts the recall end of the dial.
    val ann = Similarity.annTopK(emb, query, k, numPlanes = 8,
        minCandidatesFactor = 22)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ann.size == k)
    val recall = brute.intersect(ann).size.toDouble / k
    assert(recall >= 0.9, s"recall $recall < 0.9")
    // and the single-probe setting trades recall for a pruned scan
    val narrow = Similarity.annTopK(emb, query, k, numPlanes = 8,
        minCandidatesFactor = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(narrow.size == k)
  }

  test("IVF ANN: adaptive centroids reach 0.9 recall without a full scan") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val k = 20
    val brute = Similarity.bruteForceTopK(emb, query, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val (indexed, centers) = Similarity.ivfIndex(emb, nlist = 32)
    val cached = indexed.persist()
    try {
      // this fixture is near-isotropic (neighbors at cos ~0.35-0.5), so
      // ANY index needs a wide probe for high recall; IVF still beats
      // sign-LSH per candidate (~0.6 of the corpus here vs ~0.8)
      val ivf = Similarity.ivfTopK(cached, centers, query, k, nprobe = 20)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ivf.size == k)
      val recall = brute.intersect(ivf).size.toDouble / k
      assert(recall >= 0.9, s"IVF recall $recall < 0.9")
    } finally cached.unpersist()
  }

  test("ANN-join skew guard: a degenerate hot bucket stays linear, not quadratic") {
    import spark.implicits._
    // adversarial fixture: every vector identical — all 600 rows land in
    // ONE LSH bucket. Uncapped, the self-join would build 600*599 pairs;
    // with cap=16 the candidate side is ~16 rows, pairs <= n*cap.
    val v = Array.fill(8)(0.5f).toSeq
    val emb = (0L until 600L).map(i => (i, v)).toDF("vec_id", "embedding")
    val out = Similarity.neighborsPerVector(emb, k = 3, numPlanes = 4,
      dim = 8, maxBucketSize = 16)
    val pairs = out.count()
    // every id still gets its k neighbors (cap >> k), bounded total
    assert(pairs == 600L * 3, s"expected 1800 ranked pairs, got $pairs")
    // and the candidate pool truly was capped: distinct id_b is ~cap, not n
    val candidatePool = out.select("id_b").distinct().count()
    assert(candidatePool <= 40, s"candidate pool $candidatePool not capped")
    // non-skewed path unchanged: cap larger than any bucket is a no-op
    val real = spark.read.parquet(s"$sf/embeddings.parquet")
    val capped = Similarity.neighborsPerVector(real, k = 5, numPlanes = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Similarity.neighborsPerVector(real, k = 5, numPlanes = 8,
      maxBucketSize = Int.MaxValue)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
  }

  test("IVF sample-fit: bounded driver sample still yields a usable quantizer") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // force the sample path: cap far below the 500-row fixture
    val (indexed, centers) = Similarity.ivfIndex(emb, nlist = 16,
      fitSampleCap = 120)
    assert(centers.length == 16)
    val lists = indexed.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(lists.forall(l => l >= 0 && l < 16))
    assert(lists.size > 4, s"degenerate quantizer: ${lists.size} lists used")
    assert(indexed.filter(col("list_id").isNull).count() == 0)
    // deterministic: same seed, same assignment
    val (again, centers2) = Similarity.ivfIndex(emb, nlist = 16,
      fitSampleCap = 120)
    assert(centers.map(_.toSeq).toSeq == centers2.map(_.toSeq).toSeq)
    assert(indexed.select("vec_id", "list_id").exceptAll(
      again.select("vec_id", "list_id")).isEmpty)
  }

  test("IVF: a rebuilt index and a new query compile no new code") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def assigned(seed: Long) = {
      val (ix, centers) = Similarity.ivfIndex(emb, nlist = 16, seed = seed)
      val lists = ix.select("vec_id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      (ix, centers, lists)
    }
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val (ix1, c1, lists1) = assigned(42L)
    Similarity.ivfTopK(ix1, c1, vecs(0L), 10, nprobe = 4).collect()
    val warm = compiles
    val (ix2, c2, lists2) = assigned(7L)
    Similarity.ivfTopK(ix2, c2, vecs(1L), 10, nprobe = 6).collect()
    assert(compiles == warm, "a rebuilt index or a new probe set recompiled")
    assert(c1.map(_.toSeq).toSeq != c2.map(_.toSeq).toSeq)
    // the other query operators: a new query (and probe set) compiles
    // nothing either
    def others(q: Seq[Float]) = {
      Similarity.bruteForceTopK(emb, q, 10).collect()
      Similarity.annTopK(emb, q, 10).collect()
    }
    others(vecs(0L))
    val warmTopK = compiles
    others(vecs(1L))
    assert(compiles == warmTopK, "a new top-k query recompiled")
    // probing every list, IVF ranks exactly like brute force (same cos)
    assert(Similarity.ivfTopK(ix2, c2, vecs(1L), 10, nprobe = 16).collect()
      .toSeq == Similarity.bruteForceTopK(emb, vecs(1L), 10).collect().toSeq)
    // the assignment is argmin ‖c‖² − 2·(v·c), sequential dot, lowest
    // index on ties
    Seq((c1, lists1), (c2, lists2)).foreach { case (centers, lists) =>
      lists.foreach { case (id, list) =>
        val v = vecs(id).map(_.toDouble)
        val d = centers.map { c =>
          var dot = 0.0
          v.indices.foreach(i => dot += v(i) * c(i))
          c.map(x => x * x).sum - 2.0 * dot
        }
        assert(list == d.indices.minBy(i => (d(i), i)), s"vec $id")
      }
    }
  }

  test("top-k: a zero vector ranks last, a zero query gives null cosines " +
      "by id") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val vecs = (0 until 6).map(i =>
      if (i == 2) Seq.fill(8)(0f) else Seq.fill(8)(rng.nextGaussian().toFloat))
    val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    Seq[(Seq[Float], Int) => org.apache.spark.sql.DataFrame](
      Similarity.bruteForceTopK(emb, _, _),
      Similarity.annTopK(emb, _, _, numPlanes = 4)).foreach { op =>
      val all = rows(op(vecs(0), 6))
      assert(all.size == 6 && all.last == (2L, None))
      assert(all.init.forall(_._2.isDefined))
      assert(rows(op(vecs(2), 3)) == Seq((0L, None), (1L, None), (2L, None)))
    }
  }

  test("embedding near-dups: a zero vector pairs with nothing, in every " +
      "mode") {
    import spark.implicits._
    val rng = new scala.util.Random(9)
    val bases = Seq.fill(4)(Seq.fill(8)(rng.nextGaussian()))
    val vecs = Seq.fill(8)(0f) +: (0 until 16).map(i =>
      bases(i % 4).map(x => (x + 0.01 * rng.nextGaussian()).toFloat))
    val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, threshold = 0.9, numBlocks = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // each base's four near copies pair up, the zero vector with nothing
    assert(pairs.toSet == (1L to 16L).combinations(2).collect {
      case Seq(a, b) if (a - b) % 4 == 0 => (a, b) }.toSet)
    Seq(0, 2).foreach { centroids =>
      val groups = Dedup.semanticDedup(emb, threshold = 0.9,
          numCentroids = centroids, numBlocks = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(groups(0L) == 0L, s"centroids $centroids")
      assert(groups.count(g => g._1 == g._2) == 5, s"centroids $centroids")
    }
  }

  test("block-matrix embedding near-dups equal the naive all-pairs result") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(200)
    val fast = Dedup.embeddingNearDups(emb, threshold = 0.35)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive oracle: small cross join on the limited fixture
    val st = emb.select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("v"))
    val naive = st.as("a").crossJoin(st.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        round(Similarity.cosine(col("a.v"), col("b.v")), 6).as("c"))
      .filter(col("c") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == naive)
  }

  test("LSH-blocked ngram jaccard finds the metadata-blocked result at 0.5") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val viaLang = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Dedup.ngramJaccardPairsLsh(docs, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLang.nonEmpty)
    // 8x4 banding: the S-curve knee sits near j ~ 0.6, so recall at the
    // 0.5 threshold is only high for HIGH-j pairs — the fixture's true
    // dups are near-identical (j ~ 1.0, miss prob ~ 2e-4 per pair),
    // which is what makes this subset assertion deterministic in
    // practice; exact verify makes precision exact
    // viaLsh may add legitimate cross-lang pairs; it must not MISS any
    // same-lang pair
    assert(viaLang.subsetOf(viaLsh),
      s"LSH-blocked missed ${viaLang.diff(viaLsh)}")
  }

  test("real image decode: JDK codecs produce dimensions and luminance features") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val black = png(8, 4)((_, _) => 0x000000)
    val white = png(4, 4)((_, _) => 0xffffff)
    val noise = "definitely not an image".getBytes
    import spark.implicits._
    val df = Seq((1L, black), (2L, white), (3L, noise))
      .toDF("id", "media")
    val feats = graft.pipeline.Multimodal.imageFeatures(df, "media")
      .orderBy("id").collect()
    // black 8x4: brightness 0, histogram mass in bin 0, aspect 2.0
    assert(feats(0).getAs[Int]("img_width") == 8)
    assert(feats(0).getAs[Int]("img_height") == 4)
    assert(feats(0).getAs[Double]("img_aspect") == 2.0)
    assert(feats(0).getAs[Double]("img_mean_brightness") == 0.0)
    assert(feats(0).getAs[Seq[Double]]("img_histogram").head == 1.0)
    // white 4x4: brightness 255, histogram mass in the top bin
    assert(feats(1).getAs[Double]("img_mean_brightness") == 255.0)
    assert(feats(1).getAs[Seq[Double]]("img_histogram").last == 1.0)
    // non-image payload: null features, no crash
    assert(feats(2).isNullAt(feats(2).fieldIndex("img_width")))
  }

  test("real audio decode: WAV PCM bytes yield format facts and RMS/peak") {
    import graft.pipeline.Multimodal
    // square wave amp 2000, 1600 frames @ 8 kHz: RMS == amp, 0.2 s
    val square = Multimodal.wavPcm16Mono(8000,
      Array.tabulate(1600)(i => if ((i / 8) % 2 == 0) 2000.toShort
        else (-2000).toShort))
    // all-zero signal: rms 0, peak 0
    val silence = Multimodal.wavPcm16Mono(44100, new Array[Short](441))
    val noise = "definitely not audio".getBytes
    import spark.implicits._
    val feats = Multimodal.audioFeatures(
        Seq((1L, square), (2L, silence), (3L, noise)).toDF("id", "media"),
        "media")
      .orderBy("id").collect()
    assert(feats(0).getAs[Double]("audio_sample_rate") == 8000.0)
    assert(feats(0).getAs[Int]("audio_channels") == 1)
    assert(feats(0).getAs[Int]("audio_bits") == 16)
    assert(feats(0).getAs[Long]("audio_frames") == 1600L)
    assert(feats(0).getAs[Double]("audio_duration_s") == 0.2)
    assert(feats(0).getAs[Double]("audio_rms") == 2000.0)
    assert(feats(0).getAs[Double]("audio_peak") == 2000.0)
    assert(feats(1).getAs[Double]("audio_sample_rate") == 44100.0)
    assert(feats(1).getAs[Double]("audio_rms") == 0.0)
    assert(feats(1).getAs[Double]("audio_peak") == 0.0)
    // undecodable payload: null features, no crash
    assert(feats(2).isNullAt(feats(2).fieldIndex("audio_sample_rate")))
  }

  test("real video decode: MJPEG AVI yields container facts and frame luminance") {
    import graft.pipeline.Multimodal
    import java.awt.image.BufferedImage
    def jpegFrame(lum: Int): Array[Byte] = {
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
      val rgb = (lum << 16) | (lum << 8) | lum
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val lums = Seq(30, 100, 170, 240)
    val avi = Multimodal.aviMjpeg(lums.map(jpegFrame), 16, 16, 30)
    val dec = Multimodal.decodeVideoMjpeg(avi, stride = 1)
    assert(dec.width == 16 && dec.height == 16)
    assert(dec.fps == 30.0)
    assert(dec.n_frames == 4 && dec.decoded_frames == 4)
    // JPEG is lossy: solid frames decode within a small DC tolerance
    dec.frame_means.zip(lums).foreach { case (m, l) =>
      assert(math.abs(m - l) <= 3.0, s"frame mean $m vs luminance $l") }
    // stride sampling decodes only every n-th frame
    val strided = Multimodal.decodeVideoMjpeg(avi, stride = 3)
    assert(strided.n_frames == 4 && strided.decoded_frames == 2)
    // non-video payloads: null, no crash (and through the UDF column too)
    assert(Multimodal.decodeVideoMjpeg("not an avi".getBytes, 1) == null)
    import spark.implicits._
    val feats = Multimodal.videoFeatures(
        Seq((1L, avi), (2L, "junk".getBytes)).toDF("id", "media"), "media")
      .orderBy("id").collect()
    assert(feats(0).getAs[Int]("video_frames") == 4)
    assert(feats(1).isNullAt(feats(1).fieldIndex("video_width")))
  }

  test("minhash LSH candidates contain every truly-similar pair") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val candidates = Dedup.minhashCandidates(docs, numHashes = 32, bands = 8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair at jaccard >= 0.5 must surface as an LSH candidate
    // (8 bands x 4 rows: P(miss at j=0.5) = (1-0.5^4)^8 ~ 0.6 per pair —
    // but the fixture's true dups are near-identical, j ~ 1.0)
    val truth = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(truth.subsetOf(candidates),
      s"missed ${truth.diff(candidates).size} of ${truth.size}")
  }

  test("connected components: long chains collapse in O(log n) rounds") {
    import spark.implicits._
    // a 200-node chain (diameter 199 — defeats plain label propagation in
    // 30 rounds), two small cliques, and a 2-cycle of pairs
    val chain = (1L until 200L).map(i => (i, i + 1))
    val cliqueA = Seq((500L, 501L), (501L, 502L), (500L, 502L))
    val rev = Seq((901L, 900L), (902L, 901L)) // arbitrary orientation
    val pairs = (chain ++ cliqueA ++ rev)
      .toDF("doc_a", "doc_b")
    // force pure distributed star rounds (no local union-find finish)
    val labels = graft.pipeline.ConnectedComponents
      .run(pairs, localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 200 + 3 + 3)
    (1L to 200L).foreach(i => assert(labels(i) == 1L, s"chain node $i"))
    Seq(500L, 501L, 502L).foreach(i => assert(labels(i) == 500L))
    Seq(900L, 901L, 902L).foreach(i => assert(labels(i) == 900L))
    // the adaptive union-find finish resolves the same components
    val local = graft.pipeline.ConnectedComponents.run(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == labels)
  }

  test("source curation: rates bounded, entropy sane, keep respects " +
      "thresholds") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = graft.pipeline.TextAnalysis.sourceCuration(docs).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == docs.count()) // partition of the corpus by source
    val nLangs = docs.select("lang").distinct().count()
    rows.foreach { r =>
      val dup = r.getAs[Double]("dup_rate")
      val short = r.getAs[Double]("short_rate")
      val ent = r.getAs[Double]("lang_entropy")
      assert(dup >= 0.0 && dup <= 1.0)
      assert(short >= 0.0 && short <= 1.0)
      // 0 ≤ H ≤ ln(#langs in corpus)
      assert(ent >= -1e-9 && ent <= math.log(nLangs.toDouble) + 1e-9)
      assert(r.getAs[Boolean]("keep") == (dup < 0.5 && short < 0.5))
      assert(r.getAs[Long]("n_distinct_texts") <= r.getAs[Long]("n_docs"))
    }
  }

  test("deterministic split: stable, exhaustive, near-requested fractions") {
    import graft.pipeline.Sampling
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    for (method <- Seq("xxhash64", "md5")) {
      val once = Sampling.assignSplit(docs, "doc_id", splits,
        method = method)
      val counts = once.groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = counts.values.sum.toDouble
      assert(counts.keySet == Set("train", "val", "test"), counts)
      assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
      // reassignment is bit-identical (no RNG anywhere)
      val again = Sampling.assignSplit(docs, "doc_id", splits,
        method = method)
      assert(once.select("doc_id", "split").exceptAll(
        again.select("doc_id", "split")).isEmpty)
    }
    // stratified subsample: per-stratum fraction honored, deterministic
    val sampled = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 1.0))
    val byLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == total("de"))
    assert(byLang("en") > total("en") * 0.3 && byLang("en") < total("en") * 0.7)
    assert(!byLang.contains("fr")) // default fraction 0
  }

  test("temperature mix: alpha flattens sources, epochs mark upsampling") {
    import graft.pipeline.Sampling
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source")
    val n = docs.count()
    val bySrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val mixed = Sampling.temperatureMix(docs, "doc_id", "source",
      alpha = 0.5, targetRows = n)
    val out = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // total lands near the target (hash granularity ±1%)
    val total = out.values.sum.toDouble
    assert(math.abs(total - n) / n < 0.02, s"total $total vs target $n")
    // expected per-source share: n_s^0.5 / sum — realized within 5%
    val wsum = bySrc.values.map(c => math.sqrt(c.toDouble)).sum
    bySrc.foreach { case (s, c) =>
      val want = math.sqrt(c.toDouble) / wsum * n
      assert(math.abs(out(s) - want) <= math.max(3.0, want * 0.05),
        s"$s: got ${out(s)}, want ~$want")
    }
    // smallest source upsamples (rate > 1): some rows carry epoch >= 1,
    // and every epoch run is dense 0..copies-1 per doc
    val small = bySrc.minBy(_._2)._1
    val epochs = mixed.filter(col("source") === small)
      .groupBy("doc_id").agg(max("epoch").as("mx"),
        countDistinct("epoch").as("k")).collect()
    assert(epochs.forall(r => r.getAs[Long]("k") == r.getAs[Long]("mx") + 1))
    if (math.sqrt(bySrc(small).toDouble) / wsum * n / bySrc(small) > 1.0)
      assert(epochs.exists(_.getAs[Long]("mx") >= 1))
    // deterministic: rerun is bit-identical
    val again = Sampling.temperatureMix(docs, "doc_id", "source",
      alpha = 0.5, targetRows = n)
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
    // alpha = 1 is proportional sampling: every rate is exactly 1 when
    // target = corpus size, so the mix is the corpus itself at epoch 0
    val prop = Sampling.temperatureMix(docs, "doc_id", "source",
      alpha = 1.0, targetRows = n)
    assert(prop.count() == n)
    assert(prop.agg(max("epoch")).head().getLong(0) == 0L)
  }

  test("near-dup clusters merge transitive LSH pairs; singletons self-label") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val docs = Seq(
      (1L, base + "alpha beta gamma delta"),
      (2L, base + "alpha beta gamma epsilon"), // ~1 via high jaccard
      (3L, base + "alpha beta zeta epsilon"),  // ~2; maybe not ~1 directly
      (10L, "completely different content about spark and scala engines"),
      (11L, "completely different content about spark and scala engines"),
      (20L, "a singleton document with unique words entirely its own")
    ).toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, minEstJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L,
      s"transitive chain should share cluster 1: $clusters")
    assert(clusters(10L) == 10L && clusters(11L) == 10L)
    assert(clusters(20L) == 20L)
  }

  test("real image resize: bilinear scale preserves constant tone; junk -> null") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    import spark.implicits._
    val gray = png(16, 8)((_, _) => 0x808080)
    val df = Seq((1L, gray), (2L, "not an image".getBytes))
      .toDF("id", "media")
      .withColumn("small", graft.pipeline.Multimodal.resizeImage(
        col("media"), lit(4), lit(2)))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[org.apache.spark.sql.Row]("small").getInt(0) == 4)
    assert(rows(1).isNullAt(rows(1).fieldIndex("small")))
    // the resized payload is itself a decodable image of the same tone
    val feats = graft.pipeline.Multimodal.imageFeatures(
      df.filter(col("id") === 1).select(col("id"),
        col("small.png").as("media")), "media").head()
    assert(feats.getAs[Int]("img_width") == 4 &&
      feats.getAs[Int]("img_height") == 2)
    assert(math.abs(feats.getAs[Double]("img_mean_brightness") - 128.0) < 2.0)
  }

  test("asof join: <= match, tie-break, carry-forward, and missing-prior nulls") {
    import spark.implicits._
    import graft.pipeline.Events
    val lefts = Seq((100L, 1L, 10L), (101L, 1L, 20L), (102L, 2L, 5L))
      .toDF("event_id", "user_id", "ts")
    val rights = Seq(
      (1L, 10L, 7L, 1.0), // same instant as left 100 -> matches (<=)
      (1L, 15L, 8L, 2.0), // same-instant pair: larger tieBreak wins
      (1L, 15L, 9L, 3.0),
      (3L, 1L, 99L, 9.9)  // other user, never matches
    ).toDF("user_id", "r_ts", "r_id", "r_v")
    val out = Events.asofJoin(lefts, rights, "user_id", "ts", "r_ts",
        Seq("r_id", "r_v"), tieBreak = "r_id")
      .orderBy("event_id").collect()
    assert(out.length == 3)
    assert(out(0).getLong(0) == 100L && out(0).getLong(3) == 7L)
    assert(out(1).getLong(0) == 101L && out(1).getLong(3) == 9L &&
      out(1).getDouble(4) == 3.0)
    assert(out(2).getLong(0) == 102L && out(2).isNullAt(3) &&
      out(2).isNullAt(4))
  }

  test("asof join forward direction: first right at-or-after each left") {
    import spark.implicits._
    import graft.pipeline.Events
    val lefts = Seq((100L, 1L, 10L), (101L, 1L, 16L), (102L, 1L, 99L))
      .toDF("event_id", "user_id", "ts")
    val rights = Seq((1L, 10L, 7L), (1L, 15L, 8L), (1L, 20L, 9L))
      .toDF("user_id", "r_ts", "r_id")
    val out = Events.asofJoin(lefts, rights, "user_id", "ts", "r_ts",
        Seq("r_id"), direction = "forward")
      .orderBy("event_id").collect()
    assert(out(0).getLong(3) == 7L)  // ts 10 -> right at 10 (>= inclusive)
    assert(out(1).getLong(3) == 9L)  // ts 16 -> next right at 20
    assert(out(2).isNullAt(3))       // ts 99 -> nothing after
  }

  test("winnowing: coverage guarantee, density, shared-substring detection") {
    import spark.implicits._
    val k = 8; val w = 4
    val passage = "this exact passage is shared between both documents ok"
    val docs = Seq(
      (1L, "left padding text then " + passage + " and a right tail here"),
      (2L, "other document intro " + passage + " with different ending")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowedFingerprints(docs, k, w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // coverage: every window of w consecutive positions holds a selection
    docs.collect().foreach { r =>
      val id = r.getLong(0); val n = r.getString(1).length - k + 1
      val sel = fp.filter(_._1 == id).map(_._2).toSet
      (1 to n - w + 1).foreach { i =>
        assert((i until i + w).exists(sel.contains),
          s"doc $id window at $i uncovered")
      }
      // density: roughly 2/(w+1) of positions, never more than 1/1
      val density = sel.size.toDouble / n
      assert(density > 0.15 && density < 0.8, s"density $density")
    }
    // detection: a shared substring of length >= k+w-1 shares a hash
    val h1 = fp.filter(_._1 == 1L).map(_._3).toSet
    val h2 = fp.filter(_._1 == 2L).map(_._3).toSet
    assert(h1.intersect(h2).nonEmpty, "shared passage must share a fingerprint")
  }

  test("trigram LM score: statistically-unlike documents score higher") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val normal = (1L to 30L).map(i =>
      (i, "en", "the quick brown fox jumps over the lazy dog again and " +
        s"again run $i"))
    val weird = Seq((99L, "en", "zx9#qv@7jk!!pw%%mm&&zq##xx@@vv!!kk99##"))
    val docs = (normal ++ weird).toDF("doc_id", "lang", "text")
    val scores = TextAnalysis.charTrigramScore(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val normalAvg = normal.map(n => scores(n._1)).sum / normal.size
    assert(scores(99L) > normalAvg * 1.3,
      s"garbage doc should stand out: ${scores(99L)} vs avg $normalAvg")
  }

  test("bloom prefilter: zero false negatives, sane FP rate, exact overlap") {
    // kernel-level: every inserted hash is contained; FP rate ~1%
    val rng = new scala.util.Random(7)
    val inserted = Array.fill(5000)(rng.nextLong())
    val (bits, k) = graft.functions.BloomBuild.fromHashes(inserted)
    val expr = graft.functions.BloomContainsExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(0L), bits, k)
    def contains(h: Long): Boolean =
      expr.nullSafeEval(h).asInstanceOf[Boolean]
    assert(inserted.forall(contains))
    val probes = Array.fill(20000)(rng.nextLong())
      .filterNot(inserted.contains)
    val fpRate = probes.count(contains).toDouble / probes.length
    assert(fpRate < 0.05, s"bloom FP rate $fpRate")

    // operator-level: bloom path ≡ exact path on the corpus
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    import graft.pipeline.Decontaminate
    val exact = Decontaminate.overlap(corpus, bench, n = 3, minShared = 2)
      .orderBy("doc_id", "bench_id").collect().map(_.toString).toSeq
    val bloom = Decontaminate.overlapBloom(corpus, bench, n = 3,
        minShared = 2)
      .orderBy("doc_id", "bench_id").collect().map(_.toString).toSeq
    assert(exact == bloom && exact.nonEmpty)
  }

  test("asof join nearest: smallest gap wins, backward breaks ties") {
    import spark.implicits._
    import graft.pipeline.Events
    val lefts = Seq((100L, 1L, 10L), (101L, 1L, 17L), (102L, 1L, 25L),
      (103L, 2L, 5L)).toDF("event_id", "user_id", "ts")
    val rights = Seq((1L, 8L, 7L), (1L, 20L, 8L), (1L, 26L, 9L))
      .toDF("user_id", "r_ts", "r_id")
    val out = Events.asofJoinNearest(lefts, rights, "user_id", "ts", "r_ts",
        Seq("r_id"))
      .orderBy("event_id").collect()
    assert(out(0).getLong(3) == 7L)  // ts 10: gaps 2 vs 10 -> backward 8
    assert(out(1).getLong(3) == 8L)  // ts 17: gaps 9 vs 3  -> forward 20
    assert(out(2).getLong(3) == 9L)  // ts 25: gaps 5 vs 1  -> forward 26
    assert(out(3).isNullAt(3))       // user 2: no right rows at all
    // exact tie: equidistant rights -> the EARLIER right row wins
    val tie = Events.asofJoinNearest(
      Seq((1L, 1L, 15L)).toDF("event_id", "user_id", "ts"),
      Seq((1L, 10L, 70L), (1L, 20L, 80L)).toDF("user_id", "r_ts", "r_id"),
      "user_id", "ts", "r_ts", Seq("r_id")).head()
    assert(tie.getLong(3) == 70L)
  }

  test("band join: inclusive boundary, neighbor buckets, no duplicate pairs") {
    import spark.implicits._
    import graft.pipeline.Events
    val lefts = Seq((1L, 10L, 1000L), (1L, 11L, 1999L), (2L, 12L, 500L))
      .toDF("user_id", "p_id", "pts")
    val rights = Seq(
      (1L, 20L, 400L),  // gap 600 to left 10 -> inclusive match
      (1L, 21L, 1001L), // gap 1 to left 10 in; gap 998 to left 11 out
      (1L, 24L, 1400L), // matches BOTH lefts (gaps 400, 599)
      (1L, 22L, 2600L), // gap 601 to left 11 -> out
      (2L, 23L, 1100L)  // cross-bucket: 500 div 600 = 0, 1100 div 600 = 1
    ).toDF("user_id", "e_id", "ets")
    val pairs = Events.bandJoin(lefts, rights, "user_id", "pts", "ets", 600L)
      .select("p_id", "e_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(pairs == Seq((10L, 20L), (10L, 21L), (10L, 24L), (11L, 24L),
      (12L, 23L)))
  }

  test("PQ ANN: self ranks first; ADC top-k overlaps brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val model = Similarity.pqFit(emb, m = 8, k = 16)
    assert(model.codebooks.length == 8 &&
      model.codebooks.forall(_.forall(_.length == 8)))
    val pq = Similarity.pqTopK(Similarity.pqEncode(emb, model), model,
      query, 20).collect()
    assert(pq.length == 20)
    // the query IS vec 0 (unit-norm corpus): its own quantization error
    // is the smallest ADC distance
    assert(pq.head.getLong(0) == 0L, s"self not first: ${pq.head}")
    // deterministic model: same seed, same codes, same ranking
    val again = Similarity.pqTopK(Similarity.pqEncode(emb, model), model,
      query, 20).collect()
    assert(pq.map(_.toString).toSeq == again.map(_.toString).toSeq)
    val exact = Similarity.bruteForceTopK(emb, query, 20)
      .collect().map(_.getLong(0)).toSet
    val overlap = pq.map(_.getLong(0)).count(exact.contains)
    assert(overlap >= 8, s"PQ recall too low: $overlap/20")
  }

  test("salted join equals the plain join on an adversarially hot key") {
    import spark.implicits._
    import graft.pipeline.Events
    val left = ((0 until 500).map(i => (1L, i.toLong)) ++ // one hot key
      (0 until 50).map(i => (100L + i, i.toLong)))        // cold keys
      .toDF("k", "lv")
    val right = Seq((1L, "hot"), (2L, "unmatched"), (105L, "cold"))
      .toDF("k", "rv")
    val salted = Events.saltedJoin(left, right, "k",
      salts = 8, hotThreshold = 10, maxHotKeys = 4)
    val plain = left.join(right, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty &&
      plain.exceptAll(salted).isEmpty)
  }

  test("BPE merge loop matches hand-computed merges; encoder segments accordingly") {
    import graft.pipeline.Bpe
    // Sennrich et al.'s canonical tiny example: merge decisions from
    // word-TYPE counts, ties by lexicographic pair
    val wc = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.learnFromCounts(wc, 4)
    assert(merges.map(m => (m.left, m.right, m.freq)) == Seq(
      ("e", "s", 9L),          // (e,s)/(s,t)/(t,</w>) tie at 9 → lexicographic
      ("es", "t", 9L),
      ("est", Bpe.EndOfWord, 9L),
      ("l", "o", 7L)))         // (l,o)/(o,w) tie at 7 → lexicographic
    // greedy lowest-rank-first segmentation of an UNSEEN word
    import spark.implicits._
    val out = Seq((1L, "lowest newest")).toDF("doc_id", "text")
      .select(Bpe.encode(col("text"), merges).as("toks"))
      .head().getSeq[String](0)
    assert(out == Seq("lo", "w", "est" + Bpe.EndOfWord,
      "n", "e", "w", "est" + Bpe.EndOfWord))
  }

  test("BPE learn on the corpus is deterministic and encode covers every word") {
    import graft.pipeline.Bpe
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val m1 = Bpe.learn(docs, numMerges = 20)
    val m2 = Bpe.learn(docs, numMerges = 20)
    assert(m1 == m2 && m1.size == 20)
    // every document's encoding ends each word with an EndOfWord-suffixed
    // symbol, so token counts are >= word counts and > 0 for nonempty text
    val bad = docs.select(
        graft.pipeline.TextAnalysis.tokenCount(col("text")).as("nw"),
        org.apache.spark.sql.functions.size(
          Bpe.encode(col("text"), m1)).as("nb"))
      .filter(col("nb") < col("nw")).count()
    assert(bad == 0L)
  }

  test("duplicatedSpans: known span geometry; hashed scale path ≡ raw substrings") {
    import spark.implicits._
    val passage = ("shared-passage-" * 4) + "0123456789" // 70 chars
    assert(passage.length == 70)
    val docs = Seq(
      (1L, "AAAAAAAAAA" + passage + "____tail_one________"), // passage at 11
      (2L, "BBBBB" + passage + "~~~~tail_two~~~~"),          // passage at 6
      (3L, "an unrelated document long enough to clear the forty char bar")
    ).toDF("doc_id", "text")
    val raw = Dedup.duplicatedSpans(docs, k = 40, stride = 1, hashed = false)
      .orderBy("doc_id").collect()
    // 70-char shared passage → 31 duplicated 40-char windows merging into
    // ONE span covering exactly the 70 shared chars
    assert(raw.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    raw.foreach { r =>
      assert(r.getAs[Long]("n_dup_shingles") == 31L, r.toString)
      assert(r.getAs[Long]("n_spans") == 1L, r.toString)
      assert(r.getAs[Long]("dup_chars") == 70L, r.toString)
    }
    val hashed = Dedup.duplicatedSpans(docs, k = 40, stride = 1, hashed = true)
      .orderBy("doc_id").collect()
    assert(raw.map(_.toString).toSeq == hashed.map(_.toString).toSeq)
    // stride > 1 samples positions but still finds the span
    val strided = Dedup.duplicatedSpans(docs, k = 40, stride = 5)
      .orderBy("doc_id").collect()
    assert(strided.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(strided.forall(_.getAs[Long]("n_spans") >= 1L))
  }

  test("duplicatedSpans on the corpus: hashed ≡ raw (64-bit collisions absent)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val raw = Dedup.duplicatedSpans(docs, k = 40, hashed = false)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val hashed = Dedup.duplicatedSpans(docs, k = 40, hashed = true)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(raw == hashed && raw.nonEmpty)
  }

  test("semantic dedup: partitioned mode keeps a superset of exact keeps, high agreement") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // SemDeDup's operating regime is near-identical pairs (high
    // threshold, sparse graph): 0.45 gives 14 exact pairs on the
    // fixture. At 0.35 the graph is dense (271 pairs, giant
    // components) and cell-partitioning legitimately splits them —
    // the paper's documented recall trade, not a bug.
    val exact = Dedup.semanticDedup(emb, threshold = 0.45)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    Dedup.releaseCaches()
    val part = Dedup.semanticDedup(emb, threshold = 0.45,
        numCentroids = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    Dedup.releaseCaches()
    assert(exact.size == 500 && part.size == 500)
    assert(exact.values.count(!_) > 0, "fixture should drop something")
    // within-cell pairs ⊆ all pairs: every exact survivor must survive
    // the partitioned mode too (it can only keep MORE)
    exact.foreach { case (id, k) =>
      if (k) assert(part(id), s"exact keep $id dropped by partitioned mode")
    }
    val agree = exact.keys.count(id => exact(id) == part(id))
    assert(agree >= 490, s"agreement $agree/500")
    // deterministic
    val part2 = Dedup.semanticDedup(emb, threshold = 0.45,
        numCentroids = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    Dedup.releaseCaches()
    assert(part == part2)
  }

  test("dedup pipeline: exact dups chain through their canonical's near-dup fate") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("lazy", "sleepy") // j >= 0.6 vs base
    val docs = Seq(
      (1L, base), (2L, base),     // 2 = exact dup of 1
      (3L, near),                 // near-dup of 1
      (4L, near),                 // exact dup of 3, chains to 1
      (5L, "completely different words about spark shuffles and joins"))
      .toDF("doc_id", "text")
    val res = Dedup.dedupPipeline(docs, threshold = 0.5, bands = 16)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getString(2), r.getLong(3))).toMap
    Dedup.releaseCaches()
    assert(res(1L) == ((true, "keep", 1L)))
    assert(res(2L) == ((false, "exact_dup", 1L)))
    assert(res(3L) == ((false, "near_dup", 1L)))
    // 4 is byte-identical to 3; its final canonical is 3's survivor (1)
    assert(res(4L) == ((false, "exact_dup", 1L)))
    assert(res(5L) == ((true, "keep", 5L)))
  }

  test("count-min sketch: sound over-estimates, bounded size, determinism") {
    import graft.pipeline.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sketch = TextAnalysis.cmsSketch(docs, depth = 4, width = 256)
    assert(sketch.count() <= 4L * 256, "sketch must stay within d*w cells")
    // soundness: the estimate NEVER undercounts, for every token type
    val exact = TextAnalysis.wordFrequencies(docs, topK = 10000)
      .select("token", "n_occ")
    val est = TextAnalysis.cmsEstimate(exact, sketch, depth = 4,
        width = 256)
      .join(exact, Seq("token"))
    assert(est.filter(col("est") < col("n_occ")).count() == 0,
      "CMS undercounted")
    // deterministic across builds
    val sketch2 = TextAnalysis.cmsSketch(docs, depth = 4, width = 256)
    assert(sketch.exceptAll(sketch2).count() == 0 &&
      sketch2.exceptAll(sketch).count() == 0)
  }

  test("HLL sketch: bounded registers, estimate within the m=256 error band") {
    import graft.pipeline.TextAnalysis
    import spark.implicits._
    // 5000 distinct values in one group: raw-estimator regime
    val vals = (0 until 5000).map(i => ("g", s"value-$i")).toDF("g", "v")
    val regs = TextAnalysis.hllRegisters(vals, "g", "v")
    assert(regs.count() <= 256)
    val est = TextAnalysis.hllEstimate(regs, "g")
      .head().getDouble(1)
    // σ ≈ 1.04/√256 = 6.5%; 3σ band
    assert(math.abs(est - 5000) / 5000 < 0.20, s"estimate $est for 5000")
    // duplicates never move registers: estimate is cardinality, not count
    val dup = vals.union(vals).union(vals)
    val est2 = TextAnalysis.hllEstimate(
      TextAnalysis.hllRegisters(dup, "g", "v"), "g").head().getDouble(1)
    assert(est2 == est)
  }

  test("perceptual image hashes: identity, tolerance, separation, junk") {
    import graft.pipeline.Multimodal
    import spark.implicits._
    val base = Multimodal.pngGray(64, 48, 3)
    // one corner pixel flipped: a near-identical image
    val tweaked = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(base))
      img.setRGB(0, 0, 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val different = Multimodal.pngGray(64, 48, 11)
    val rows = Seq(
      (1L, base), (2L, base),        // exact duplicates
      (3L, tweaked),                 // near-duplicate of 1/2
      (4L, different),               // different pattern
      (5L, "not an image".getBytes("UTF-8"))) // junk
      .toDF("id", "png")
    val hashed = rows
      .select(col("id"), Multimodal.imageHashes(col("png")).as("h"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(s => (s.getLong(0), s.getLong(1))))
      .toMap
    assert(hashed(1L).isDefined && hashed(1L) == hashed(2L))
    assert(hashed(5L).isEmpty, "junk bytes must hash to null")
    def hamm(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val (a1, d1) = hashed(1L).get
    val (a3, d3) = hashed(3L).get
    val (a4, d4) = hashed(4L).get
    assert(hamm(d1, d3) <= 4, s"one-pixel tweak moved dhash ${hamm(d1, d3)}")
    assert(math.max(hamm(d1, d4), hamm(a1, a4)) > 6,
      "different patterns must separate")
    // the bucket-joined pair search: exact dups pair at hamming 0; the
    // near-dup pairs within tolerance; the different image does not
    val pairs = Multimodal.imageNearDups(rows, "id", "png",
        maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (x, y) => x == 4L || y == 4L })
    assert(!pairs.exists { case (x, y) => x == 5L || y == 5L })
  }

  test("classifier: hashed feature index agrees between SQL and task-side") {
    import graft.pipeline.Classifier
    import spark.implicits._
    val toks = Seq("spark", "window", "a", "schnell", "rapide", "x1", "")
      .filter(_.nonEmpty)
    val viaSql = toks.toDF("t")
      .select(col("t"), Classifier.featureIndex(col("t"), 64).as("f"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    toks.foreach { t =>
      assert(viaSql(t) == Classifier.featureIndexLocal(t, 64), t)
    }
  }

  test("classifier: learns a separable corpus, deterministic, scorer matches model") {
    import graft.pipeline.Classifier
    import spark.implicits._
    val goodVocab = Vector("clear", "concise", "sourced", "coherent",
      "structured", "readable")
    val badVocab = Vector("spam", "click", "winner", "casino", "xxx",
      "buy")
    // deterministic synthetic corpus: doc i samples its vocab by index
    val docs = (0 until 400).map { i =>
      val vocab = if (i % 2 == 0) goodVocab else badVocab
      val words = (0 until 12).map(j => vocab((i * 7 + j * 3) % vocab.size))
      (i.toLong, words.mkString(" "), if (i % 2 == 0) 1 else 0)
    }.toDF("doc_id", "text", "label")
    val train = docs.filter(col("doc_id") < 300)
    val holdout = docs.filter(col("doc_id") >= 300)
    val m1 = Classifier.train(train, "text", "label", dim = 256,
      iters = 60, lr = 0.5)
    val m2 = Classifier.train(train, "text", "label", dim = 256,
      iters = 60, lr = 0.5)
    // full-batch GD is deterministic up to float combine order
    m1.weights.zip(m2.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9)
    }
    // holdout accuracy on a separable vocabulary should be near-perfect
    val scored = Classifier.score(holdout, "doc_id", "text", m1)
      .join(holdout.select("doc_id", "label"), Seq("doc_id"))
    val acc = scored.select(
      avg(((col("score") > 0.5) === (col("label") === 1)).cast("double")))
      .head().getDouble(0)
    assert(acc >= 0.95, s"holdout accuracy $acc")
    // distributed scorer == driver-side model arithmetic
    val row = holdout.filter(col("doc_id") === 301)
      .select("text").head().getString(0)
    val local = m1.predictLocal(row.toLowerCase.split("\\s+").toSeq
      .filter(_.nonEmpty))
    val dist = Classifier.score(
      holdout.filter(col("doc_id") === 301), "doc_id", "text", m1)
      .head().getDouble(1)
    assert(math.abs(local - dist) < 1e-9, s"$local vs $dist")
  }

  test("ann audit: a truncated approximate relation flips the gate bits") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(emb, query, 20)
    val approx = Similarity.annTopK(emb, query, 20, numPlanes = 4)
    // intact: all 20 ranks sound (what the oracle asserts)
    val intact = Queries.annAudit(exact, approx, 0.45, "ann_ok").collect()
    assert(intact.length == 20 && intact.forall(_.getBoolean(3)),
      "intact approximate path must be sound at every rank")
    // truncated to 12 rows: ranks 13..20 lose their `_acos` — the
    // sound bit must flip FALSE there (the r11 coalesce-to-true made
    // a short approximate result pass rank-domination vacuously)
    val truncated = Queries.annAudit(exact,
      approx.orderBy(col("cos").desc).limit(12), 0.45, "ann_ok").collect()
    assert(truncated.count(!_.getBoolean(3)) >= 8,
      s"truncation must flip sound: ${truncated.mkString(";")}")

    // per-vector neighbors: truncating a STRONG vector's rows flips
    // ann_ok (membership), which is what covers the null-rank case
    // there (short buckets are legitimate, so sound cannot flip on
    // row count alone — see q_ann_neighbors' scaladoc proof)
    val full = Queries.q_ann_neighbors(spark, sf)
    assert(full.select(min(col("sound").cast("int"))).head().getInt(0) == 1)
    assert(full.select(min(col("ann_ok").cast("int"))).head().getInt(0) == 1)
  }

  test("inverted index: search path bit-identical to scan-side bm25") {
    import graft.pipeline.TextAnalysis
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val terms = Seq("spark", "vector", "stream", "window")
    val scan = TextAnalysis.bm25(docs, terms, topK = 50).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val ix = TextAnalysis.buildInvertedIndex(docs)
    val served = TextAnalysis.searchIndex(ix, terms, topK = 50).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(scan.toSeq == served.toSeq,
      s"scan ${scan.take(5).toSeq} vs index ${served.take(5).toSeq}")
    // the index itself: df equals posting-list length, postings sorted
    val row = ix.postings.filter(col("token") === "spark").head()
    assert(row.getLong(1) == row.getSeq[org.apache.spark.sql.Row](2).size)
    val ids = row.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0))
    assert(ids == ids.sorted)
  }

  test("pca: orthonormal components, variance accounting, exact reconstruction") {
    import spark.implicits._
    import graft.pipeline.Pca
    val rnd = new scala.util.Random(7)
    val s10 = math.sqrt(10)
    val docs = (0 until 200).map { i =>
      // dominant direction (3,1,0,0)/sqrt(10) plus small noise
      val t = rnd.nextGaussian() * 5
      val n1 = rnd.nextGaussian() * 0.5
      val n2 = rnd.nextGaussian() * 0.2
      (i.toLong, Seq((3 * t / s10 + n1).toFloat, (t / s10 + n2).toFloat,
        (n1 * 0.3).toFloat, (n2 * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val m = Pca.fit(docs, k = 4)
    // orthonormality
    for (a <- 0 until 4; b <- 0 until 4) {
      val dot = (0 until 4)
        .map(i => m.components(a)(i) * m.components(b)(i)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-8,
        s"($a,$b) -> $dot")
    }
    // descending explained variance; pc0 aligned with the planted axis
    assert(m.explained.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    val cos = m.components(0)(0) * 3 / s10 + m.components(0)(1) / s10
    assert(math.abs(cos) > 0.98, s"pc0 alignment $cos")
    // per-component projected variance equals the eigenvalue
    val proj = Pca.project(docs, m).collect()
    for (j <- 0 until 4) {
      val xs = proj.map(_.getDouble(2 + j))
      val mu = xs.sum / xs.length
      val va = xs.map(x => (x - mu) * (x - mu)).sum / xs.length
      assert(math.abs(va - m.explained(j)) <
        1e-6 * math.max(1.0, m.explained(j)),
        s"pc$j variance $va vs eigenvalue ${m.explained(j)}")
    }
    // k = d reconstruction: mean + sum pc_j * comp_j recovers the input
    val r0 = proj.head
    val orig = r0.getSeq[Float](1).map(_.toDouble)
    val rec = (0 until 4).map { i =>
      m.mean(i) + (0 until 4)
        .map(j => r0.getDouble(2 + j) * m.components(j)(i)).sum
    }
    orig.indices.foreach(i =>
      assert(math.abs(orig(i) - rec(i)) < 1e-5, s"dim $i"))
    // determinism: refit produces identical components (fixed sign rule)
    val m2 = Pca.fit(docs, k = 4)
    assert(m.components.flatten.toSeq == m2.components.flatten.toSeq)
    // whitening: every component's variance becomes 1
    val wt = Pca.whiten(docs, m).collect()
    for (j <- 0 until 2) { // the two non-degenerate components
      val xs = wt.map(_.getDouble(2 + j))
      val mu = xs.sum / xs.length
      val va = xs.map(x => (x - mu) * (x - mu)).sum / xs.length
      assert(math.abs(va - 1.0) < 1e-6, s"whitened pc$j variance $va")
    }
  }

  test("phrase search: adjacency and order via position intersection") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "merge sort is a merge sort demo"), // 2 hits, first at pos 1
      (2L, "sort merge never adjacent merge"), // reversed -> no hit
      (3L, "merge x sort"),                    // gap -> no hit
      (4L, "a a a")                            // repeated-term phrase
    ).toDF("doc_id", "text")
    val ix = TextAnalysis.buildPositionalIndex(docs)
    val out = TextAnalysis.phraseSearch(ix, Seq("merge", "sort"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2, 1)))
    // "a a" overlaps itself: starts 1 and 2 in doc 4
    val rep = TextAnalysis.phraseSearch(ix, Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(rep.toSeq == Seq((4L, 2, 1)))
  }

  test("inverted index: Zipf-head token splits into bounded shard rows, serving unchanged") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    // every doc contains 'the' -> df == N, far past the row threshold
    val n = 500
    val docs = (0 until n)
      .map(i => (i.toLong, s"the x$i the end")).toDF("doc_id", "text")
    val ix = TextAnalysis.buildInvertedIndex(docs, maxPostingsPerRow = 32)
    val hot = ix.postings.filter(col("token") === "the")
      .select(col("df"), size(col("plist")).as("sz")).collect()
    // split happened; every row carries the TOTAL df; doc count conserved
    assert(hot.length > 1 && hot.length <= math.ceil(n / 32.0).toInt,
      s"rows=${hot.length}")
    assert(hot.map(_.getLong(0)).distinct.toSeq == Seq(n.toLong))
    assert(hot.map(_.getInt(1)).sum == n)
    // the pinned bound: no row strays far from the threshold (hash-mod
    // shards are balanced in expectation; xxhash64 is deterministic)
    assert(hot.map(_.getInt(1)).max <= 3 * 32,
      s"max row ${hot.map(_.getInt(1)).max}")
    // a sub-threshold token stays a classic single shard-0 row
    val cold = ix.postings.filter(col("token") === "x7").collect()
    assert(cold.length == 1 && cold.head.getLong(3) == 0L)
    // serving path identical to the scan path across the split
    val terms = Seq("the", "x7")
    val scan = TextAnalysis.bm25(docs, terms, topK = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = TextAnalysis.searchIndex(ix, terms, topK = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(scan == served)
    // merge of disjoint halves under sharding serves identical scores
    val merged = TextAnalysis.mergeIndexes(
      TextAnalysis.buildInvertedIndex(
        docs.filter(col("doc_id") % 2 === 0), maxPostingsPerRow = 32),
      TextAnalysis.buildInvertedIndex(
        docs.filter(col("doc_id") % 2 =!= 0), maxPostingsPerRow = 32))
    val viaMerge = TextAnalysis.searchIndex(merged, terms, topK = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaMerge == served)
    assert(merged.postings.filter(col("token") === "the")
      .agg(sum(size(col("plist")))).head().getLong(0) == n)
    // incremental-ingest regrowth guard: merging WITH the row bound
    // re-shards oversized concat rows, so k-fold merges cannot regrow
    // unbounded single rows; serving stays identical
    val bounded = TextAnalysis.mergeIndexes(
      TextAnalysis.buildInvertedIndex(
        docs.filter(col("doc_id") % 2 === 0), maxPostingsPerRow = 32),
      TextAnalysis.buildInvertedIndex(
        docs.filter(col("doc_id") % 2 =!= 0), maxPostingsPerRow = 32),
      maxPostingsPerRow = 32)
    assert(bounded.postings.agg(max(size(col("plist"))))
      .head().getInt(0) <= 32)
    assert(bounded.postings.filter(col("token") === "the")
      .agg(sum(size(col("plist")))).head().getLong(0) == n)
    val viaBounded = TextAnalysis.searchIndex(bounded, terms, topK = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaBounded == served)
    // positional sibling: phrase search folds across the shard split
    val pix = TextAnalysis.buildPositionalIndex(docs, maxPostingsPerRow = 32)
    assert(pix.filter(col("token") === "the").count() > 1)
    val hits = TextAnalysis.phraseSearch(pix, Seq("the", "end")).count()
    assert(hits == n.toLong)
  }

  test("index merge over disjoint corpora equals the union index, scores included") {
    import graft.pipeline.TextAnalysis
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    val merged = TextAnalysis.mergeIndexes(
      TextAnalysis.buildInvertedIndex(a),
      TextAnalysis.buildInvertedIndex(b))
    val direct = TextAnalysis.buildInvertedIndex(docs)
    assert(merged.nDocs == direct.nDocs && merged.sumDl == direct.sumDl)
    // postings identical token-for-token
    val diff = merged.postings
      .join(direct.postings.withColumnRenamed("df", "df2")
        .withColumnRenamed("plist", "pl2"), Seq("token"), "full_outer")
      .filter(col("df") =!= col("df2") ||
        col("df").isNull || col("df2").isNull ||
        col("plist") =!= col("pl2"))
    assert(diff.isEmpty, diff.take(3).mkString("; "))
    // and the serving path over the merged index scores identically
    val terms = Seq("spark", "vector", "stream", "window")
    val s1 = TextAnalysis.searchIndex(merged, terms, topK = 30).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val s2 = TextAnalysis.searchIndex(direct, terms, topK = 30).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(s1 == s2)
  }

  test("proximity search: in-window pairs any order, zero-distance excluded") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "merge a b sort"),        // distance 3 -> hit at window 3
      (2L, "sort x merge"),          // reversed, distance 2 -> hit
      (3L, "merge a b c d e sort"),  // distance 6 -> miss at window 3
      (4L, "merge only here")        // one side missing -> no row
    ).toDF("doc_id", "text")
    val ix = TextAnalysis.buildPositionalIndex(docs)
    val out = TextAnalysis.proximitySearch(ix, "merge", "sort", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(out.toSeq == Seq((1L, 1), (2L, 1)))
  }

  test("event anomalies: spike flagged, constant baseline z=0, minPrior filter") {
    import spark.implicits._
    import graft.pipeline.Events
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val rows =
      // u1: alternating baseline then a spike at event 7
      (1 to 6).map(i => (i.toLong, 1L, ts(i.toLong),
        if (i % 2 == 0) 12.0 else 10.0)) ++
      Seq((7L, 1L, ts(7L), 100.0)) ++
      // u2: only 3 events -> never reaches minPrior
      (1 to 3).map(i => (10L + i, 2L, ts(i.toLong), 5.0)) ++
      // u3: constant baseline -> sd 0 -> z defined as 0
      (1 to 6).map(i => (20L + i, 3L, ts(i.toLong), 5.0))
    val df = rows.toDF("event_id", "user_id", "ts", "value")
    val out = Events.anomalies(df, n = 20, minPrior = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(6L, 7L, 26L))
    assert(!out(6L)._3)                       // in-family value
    assert(out(7L)._2 > 3.0 && out(7L)._3)    // the spike
    assert(out(26L)._2 == 0.0 && !out(26L)._3) // sd 0 -> z 0
  }

  test("funnel: strict ordering, horizon, per-stage counts") {
    import spark.implicits._
    import graft.pipeline.Events
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // u1: a<b<c in order; u2: c before b (stalls at b... no: b absent
    // after a? see rows); u3: all three but c within same instant as b
    // (strict > refuses); u4: a only
    val ev = Seq(
      (1L, "a", 10L), (1L, "b", 20L), (1L, "c", 30L),
      (2L, "b", 5L), (2L, "a", 10L), (2L, "c", 15L), // b BEFORE a: stalls at a... c at 15 needs b after a -> no b after 10 -> stalls
      (3L, "a", 10L), (3L, "b", 20L), (3L, "c", 20L), // c not strictly after b
      (4L, "a", 40L)
    ).map { case (u, t, s) => (u, t, ts(s)) }
      .toDF("user_id", "event_type", "ts")
    val out = Events.funnel(ev, Seq("a", "b", "c"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "a", 4L), (2, "b", 2L), (3, "c", 1L)))
    // horizon: u1's c arrives 20s after a -> excluded at 15s horizon,
    // b (10s after) survives
    val h = Events.funnel(ev, Seq("a", "b", "c"), withinSeconds = 15L)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(h.toSeq == Seq((1, 4L), (2, 2L), (3, 0L)))
  }

  test("tfidf keywords: closed-form scores, deterministic tie ranking") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (0L, "apple apple banana common common"),
      (1L, "banana cherry common common"),
      (2L, "cherry cherry cherry common")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(docs, topK = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getDouble(5)))
    val ln = (x: Double) => math.log(x)
    def rnd(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 0: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5);
    // common df=3 -> idf 0
    assert(out.filter(_._1 == 0L).map(x => (x._3, x._4)).toSeq ==
      Seq(("apple", rnd(2 * ln(3.0))), ("banana", rnd(ln(1.5)))))
    // doc 2: cherry 3*ln(1.5) tops; then banana? no banana — common 0.0
    val d2 = out.filter(_._1 == 2L).map(x => (x._3, x._4)).toSeq
    assert(d2 == Seq(("cherry", rnd(3 * ln(1.5))), ("common", 0.0)))
  }

  test("ngram novelty: first seer wins, later rehash scores low") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (0L, "the quick brown fox jumps"),          // 3 trigrams, all novel
      (1L, "the quick brown fox sleeps"),         // shares 2 of 3
      (2L, "completely different text here now"), // all novel
      (3L, "so")                                  // < n tokens: no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 3L, 3L), (1L, 3L, 1L), (2L, 3L, 3L)))
  }

  test("curation cascade: first failing rule wins, ok keeps") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val en20 = ("the and of is to a " * 5).trim // 30 en tokens, varied? no
    val docs = Seq(
      (1L, "the fast data engine is a good engine and the sort is stable here now ok fine yes done more"), // 20 tokens en, distinct
      (2L, "short text"),                             // too_short
      (3L, "der die das und ist nicht " * 4),         // de -> lang
      (4L, "the " + ("dup " * 30) + "and of is to a") // repetitive (low distinct ratio)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.curationPipeline(docs, minTokens = 5,
        langs = Seq("en"), minDistinctRatio = 0.3, minQuality = 0.0)
      .collect().map(r => r.getLong(0) ->
        (r.getString(5), r.getBoolean(6))).toMap
    assert(out(1L) == (("ok", true)))
    assert(out(2L) == (("too_short", false)))
    assert(out(3L) == (("lang", false)))
    assert(out(4L) == (("repetitive", false)))
  }

  test("label outliers: distance to own-label centroid, flag above threshold") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // label 0 centroid = (1, 1); vec 3 sits far out
    val embs = Seq(
      (1L, 0, Seq(0.0f, 0.0f)), (2L, 0, Seq(2.0f, 2.0f)),
      (3L, 0, Seq(1.0f, 10.0f)),
      (4L, 1, Seq(5.0f, 5.0f)) // singleton label: dist 0
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.labelOutliers(embs, threshold = 3.0)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    // centroid(0) = (1, 4): d1 = sqrt(1+16), d2 = sqrt(1+4), d3 = 6
    assert(math.abs(out(1L)._1 - math.sqrt(17)) < 1e-6 && out(1L)._2)
    assert(math.abs(out(2L)._1 - math.sqrt(5)) < 1e-6 && !out(2L)._2)
    assert(out(3L) == ((6.0, true)))
    assert(out(4L) == ((0.0, false)))
  }

  test("int8 quantization: codes, zero-vector guard, error bound") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val embs = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f)),   // maxabs 2 -> scale 2/127
      (2L, Seq(0.0f, 0.0f, 0.0f)),    // zero vector -> scale 1, codes 0
      (3L, Seq(-127.0f, 127.0f, 63.5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeEmbeddings(embs).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Int](2), r.getInt(3), r.getDouble(4)))
      .toMap
    val (s1, c1, m1, e1) = out(1L)
    assert(math.abs(s1 - 2.0 / 127) < 1e-12)
    assert(c1 == Seq(64, -127, 32) && m1 == 127)
    assert(e1 <= s1 / 2 + 1e-12) // reconstruction bound
    assert(out(2L) == ((1.0, Seq(0, 0, 0), 0, 0.0)))
    assert(out(3L)._2 == Seq(-127, 127, 64))
  }

  test("sliding chunks: tiling, overlap, short tail, empty doc") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "a b c d e f g"), // 7 tokens
      (2L, "   ")            // empty -> no rows
    ).toDF("doc_id", "text")
    // window 3 stride 3: chunks [a b c][d e f][g]
    val tiled = TextAnalysis.slidingChunks(docs, window = 3, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(tiled.toSeq == Seq((1L, 0, 3, "a b c"), (1L, 1, 3, "d e f"),
      (1L, 2, 1, "g")))
    // window 4 stride 2: starts 0,2,4,6
    val lap = TextAnalysis.slidingChunks(docs, window = 4, stride = 2)
      .orderBy("doc_id", "chunk_idx").collect().map(_.getString(3))
    assert(lap.toSeq == Seq("a b c d", "c d e f", "e f g", "g"))
  }

  test("per-group deterministic sample: k per group, stable across reruns") {
    import spark.implicits._
    import graft.pipeline.Sampling
    val df = (0 until 100).map(i => (i.toLong, s"g${i % 4}"))
      .toDF("id", "grp")
    val a = Sampling.deterministicSamplePerGroup(df, "grp", "id", 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted
    val b = Sampling.deterministicSamplePerGroup(
        df.repartition(7), "grp", "id", 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted
    assert(a.length == 20 && (a sameElements b))
    assert(a.groupBy(_._1).forall(_._2.length == 5))
  }

  test("classifier: zero-token docs score sigmoid(bias), not dropped") {
    import graft.pipeline.Classifier
    import spark.implicits._
    val m = Classifier.LogRegModel(Array.fill(16)(0.3), -0.7)
    val docs = Seq((1L, "clear sourced"), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    val out = Classifier.score(docs, "doc_id", "text", m).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // empty / whitespace-only docs keep a row and agree with predictLocal
    assert(out.size == 3)
    val expected = m.predictLocal(Nil)
    assert(math.abs(out(2L) - expected) < 1e-12)
    assert(math.abs(out(3L) - expected) < 1e-12)
    assert(math.abs(out(1L) - m.predictLocal(Seq("clear", "sourced")))
      < 1e-9)
  }
}
