package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge set, used to
  * turn near-duplicate *pairs* (from [[Dedup.minhashCandidates]] /
  * [[Dedup.simhashCandidates]] / [[Dedup.embeddingNearDups]]) into
  * duplicate *clusters* so a pipeline can keep one canonical document per
  * component. A pair list alone under-deduplicates: A~B and B~C must
  * collapse A, B, C together even when A~C was never emitted.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
  * O(log n) rounds on any graph, including the long chains that defeat
  * plain min-label propagation (O(diameter) rounds). Each half-round is
  * one groupBy-min plus one equi-join — no per-node neighbor lists are
  * ever collected, so a 10^9-edge component costs shuffle volume
  * O(edges), never a single fat aggregation buffer.
  *
  * Scale notes (100 TB shape):
  *  - per round the edge set only shrinks toward the star forest; the
  *    first round's `distinct` is the peak shuffle;
  *  - lineage is cut every round via `checkpoint` (reliable, if
  *    `spark.sparkContext.setCheckpointDir` was called — do that on a real
  *    cluster) or `localCheckpoint` (executor-local) — without this the
  *    plan doubles per iteration and Catalyst analysis time explodes;
  *  - convergence is detected by a (count, hash-sum, hash-sum') triple of
  *    the canonical edge set — one aggregate, no except() anti-joins.
  */
object ConnectedComponents {

  /** Resolve components for `pairs` (two id columns, undirected, dupes and
    * self-loops tolerated). Returns `(id, cluster_id)` with one row per
    * distinct endpoint; `cluster_id` is the minimum id of the component.
    * Ids not present in any pair are absent — callers attach singletons
    * with a left join + `coalesce(cluster_id, id)`.
    *
    * '''Adaptive finish''': star rounds run distributed while the edge
    * set exceeds `localFinishEdges`; once it fits one task, a single
    * union-find pass resolves the remainder. Iterative-shuffle tails are
    * all fixed per-round cost on shrunken data — cutting to a local
    * finish is how production graph engines end these loops. Set
    * `localFinishEdges = 0` to force pure star rounds.
    */
  def run(pairs: DataFrame, idA: String = "doc_a", idB: String = "doc_b",
          maxIter: Int = 30, localFinishEdges: Long = 4000000L): DataFrame = {
    val spark = pairs.sparkSession
    // lazy checkpoint: the signature aggregate right after is the single
    // materializing action per round (eager would add a second job)
    def cut(df: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)

    // canonical orientation (a > b), dedup, drop self-loops
    var edges = cut(pairs
      .select(greatest(col(idA).cast("long"), col(idB).cast("long")).as("a"),
        least(col(idA).cast("long"), col(idB).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())

    def signature(e: DataFrame): (Long, Long, Long) = {
      // 32-bit hashes summed into a long can't overflow below 2^32 rows;
      // the 64-bit channel folds with XOR (overflow-free under ANSI mode)
      val r = e.agg(count(lit(1)),
        coalesce(sum(hash(col("a"), col("b")).cast("long")), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && sig._1 > localFinishEdges && iter < maxIter) {
      // large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u}).
      // Output edges (v, m) keep the a-greater-than-b orientation: m ≤ u < v.
      val und = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val minsL = und.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = und.join(minsL, "u")
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
      // small-star on the oriented edges: group children of u (all < u),
      // link them and u itself to m(u) = min child.
      val minsS = large.groupBy("a").agg(min("b").as("m"))
      val small = large.join(minsS, "a")
        .where(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(minsS.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
      val next = cut(small)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges.unpersist(blocking = false)
      edges = next
      iter += 1
    }
    if (!converged && sig._1 <= localFinishEdges)
      return localFinish(edges)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — " +
          "raise maxIter (rounds needed grow with log of the largest " +
          "component, so this indicates a pathological input)")

    // Fixed point is a star forest: every child points at its root. Roots
    // label themselves; groupBy-min is insurance against the (impossible at
    // convergence) multi-parent case so the contract stays one-row-per-id.
    edges.select(col("a").as("id"), col("b").as("cluster_id"))
      .union(edges.select(col("b").as("id"), col("b").as("cluster_id")))
      .groupBy("id").agg(min("cluster_id").as("cluster_id"))
  }

  /** Single-task union-find over an edge set known to fit one partition. */
  private def localFinish(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("a"), col("b")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions(it => unionFind(it).iterator)
      .toDF("id", "cluster_id")
  }

  /** Union-find over an edge iterator: path-compressed, min-id roots, one
    * pass. Returns every endpoint's component label (the component's
    * minimum id) — the single-task finish above and the dedup driver
    * route ([[Dedup.nearDupClusters]]) both solve components here.
    */
  private[pipeline] def unionFind(
      edges: Iterator[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toArray.foreach(k => parent(k) = find(k))
    parent
  }
}
