package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Similarity}

/** The LLM-data operators, with no storage engine underneath: a seeded
  * corpus with planted near-duplicate clusters and seeded embeddings with
  * planted clusters. Each cycle runs a dedup pass and an ANN pass, and
  * interactive IVF top-k queries against the last index built.
  *
  * A planted near-duplicate swaps `edits` of its base document's words,
  * which keeps the word-3-shingle Jaccard of any two members of a cluster
  * at 0.78 or more; unrelated documents draw from a large vocabulary and
  * share almost no shingles.
  */
final class PipelineDedupAnn extends Workload {
  val docs = 2000
  val words = 50           // words per document (about 300 characters)
  val vocab = 20000
  val clusterSize = 3      // documents per planted near-duplicate cluster
  val dupClusters = 100
  val edits = 1            // words swapped per near-duplicate member
  val vectors = 2000
  val dim = 64
  val centers = 20         // planted embedding clusters
  val noise = 0.05
  val nlist = 16
  val nprobe = 4
  val topK = 10
  val queries = 2          // IVF queries per cycle

  private var corpus: DataFrame = null
  private var emb: DataFrame = null
  private var planted: Set[(Long, Long)] = Set.empty
  private var label: Array[Int] = Array.empty
  private var vecs: Array[Array[Float]] = Array.empty
  private var index: (DataFrame, Array[Array[Double]]) = null

  def shape: Map[String, Any] = Map("docs" -> docs, "words_per_doc" -> words,
    "planted_pairs" -> dupClusters * clusterSize * (clusterSize - 1) / 2,
    "vectors" -> vectors, "dim" -> dim, "planted_centers" -> centers,
    "nlist" -> nlist, "nprobe" -> nprobe, "k" -> topK, "queries_per_cycle" -> queries)

  def readKind = "ivf_query"
  // the dedup and the ANN pass alternate
  def batch = Map("minhash" -> 0.5, "lsh_verify" -> 0.5, "clusters" -> 0.5,
    "ivf_build" -> 0.5, "neighbors" -> 0.5)
  override def period: Int = 2

  def build(ctx: Ctx, dir: Path): Unit = {
    val rng = ctx.rng(-1)
    val lexicon = Array.tabulate(vocab) { i =>
      val r = new scala.util.Random(i * 31L + ctx.seed)
      (0 until 3 + r.nextInt(5)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    def doc() = Array.fill(words)(lexicon(rng.nextInt(vocab)))
    val texts = new Array[String](docs)
    val pairs = Set.newBuilder[(Long, Long)]
    var id = 0
    (0 until dupClusters).foreach { _ =>
      val base = doc()
      val members = (0 until clusterSize).map { m =>
        val d = base.clone()
        if (m > 0) (0 until edits).foreach(_ => d(rng.nextInt(words)) = lexicon(rng.nextInt(vocab)))
        texts(id) = d.mkString(" "); id += 1; id - 1L
      }
      for (a <- members; b <- members if a < b) pairs += ((a, b))
    }
    while (id < docs) { texts(id) = doc().mkString(" "); id += 1 }
    planted = pairs.result()
    val spark = ctx.spark
    import spark.implicits._
    if (corpus != null) corpus.unpersist()
    corpus = texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(ctx.cores).cache()
    corpus.count()

    val cs = Array.fill(centers)(Array.fill(dim)(rng.nextGaussian()))
    label = Array.fill(vectors)(rng.nextInt(centers))
    vecs = label.map { c =>
      val v = cs(c).map(x => (x + noise * rng.nextGaussian()).toFloat)
      val norm = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / norm)
    }
    if (emb != null) emb.unpersist()
    emb = vecs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding").repartition(ctx.cores).cache()
    emb.count()
    index = null
  }

  private def sameCluster(a: Long, b: Long) = label(a.toInt) == label(b.toInt)

  def cycle(ctx: Ctx, k: Int, deadlineNs: Long): Boolean = {
    val rng = ctx.rng(k)
    def late = System.nanoTime() > deadlineNs

    // dedup pass (even cycles): candidates, verified pairs, clusters
    if (k % 2 == 0) {
      ctx.op("minhash", units = docs) {
        ctx.layer("pipeline.minhash")(Dedup.minhashCandidates(corpus).count())
      } { n => ctx.rec.note("pipeline.candidate_pairs", n.toDouble); Dedup.releaseCaches(); n > 0 }
      if (late) return false
      ctx.op("lsh_verify", units = docs) {
        ctx.layer("pipeline.lsh_verify") {
          Dedup.ngramJaccardPairsLsh(corpus, threshold = 0.5).select("doc_a", "doc_b").collect()
        }
      } { rows =>
        Dedup.releaseCaches()
        val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        ctx.rec.note("pipeline.verified_pairs", found.size.toDouble)
        val recall = planted.count(found).toDouble / planted.size
        ctx.rec.note("pipeline.dedup_recall", recall)
        val extra = (found -- planted).size
        if (recall < 0.9 || extra > planted.size / 100)
          System.err.println(s"[perfbench] lsh_verify recall $recall, $extra unplanted pairs")
        recall >= 0.9 && extra <= planted.size / 100
      }
      if (late) return false
      ctx.op("clusters", units = docs) {
        ctx.layer("pipeline.clusters") {
          Dedup.nearDupClusters(corpus).filter(col("doc_id") =!= col("cluster_id"))
            .select("doc_id", "cluster_id").collect()
        }
      } { rows =>
        Dedup.releaseCaches()
        val of = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefault(identity)
        val kept = planted.count { case (a, b) => of(a) == of(b) }.toDouble / planted.size
        // no two planted clusters may merge: every label is a cluster's first id
        kept >= 0.9 && of.values.forall(c => c < dupClusters * clusterSize && c % clusterSize == 0)
      }
      if (late) return false
    }

    // ANN pass (odd cycles and the warm-up): index build, then every
    // vector's neighbours
    if (k % 2 == 1 || k == 0) {
      ctx.op("ivf_build", units = vectors) {
        ctx.layer("pipeline.ivf_build") {
          if (index != null) index._1.unpersist()
          val (ix, c) = Similarity.ivfIndex(emb, nlist = nlist, seed = 42L + k)
          val cached = ix.cache()
          cached.count()
          (cached, c)
        }
      } { ix => index = ix; ix._2.length == nlist }
      if (late) return false
      ctx.op("neighbors", units = vectors) {
        ctx.layer("pipeline.neighbors") {
          Similarity.neighborsPerVector(emb, 5, dim = dim).select("id_a", "id_b").collect()
        }
      } { rows =>
        val recall = rows.count(r => sameCluster(r.getLong(0), r.getLong(1))).toDouble / rows.length
        ctx.rec.note("pipeline.neighbor_recall", recall)
        rows.length >= vectors * 4 && recall >= 0.9
      }
      if (late) return false
    }

    // interactive top-k queries against the index
    for (_ <- 0 until (if (k == 0) 1 else queries)) {
      val q = rng.nextInt(vectors)
      ctx.op("ivf_query") {
        ctx.layer("pipeline.ivf_query") {
          Similarity.ivfTopK(index._1, index._2, vecs(q).toSeq, topK, nprobe).collect()
        }
      } { rows =>
        val recall = rows.count(r => sameCluster(q, r.getLong(0))).toDouble / topK
        ctx.rec.note("pipeline.query_recall", recall)
        rows.length == topK && recall >= 0.9
      }
      if (late) return false
    }
    true
  }
}
