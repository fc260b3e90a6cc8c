package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import graft.core.Trace
import graft.pipeline.Dedup

/** The two routes of the LSH dedup operators (`minhashCandidates`,
  * `ngramJaccardPairsLsh`, `nearDupClusters`; `dedupPipeline` through
  * its verify). A driver-sized corpus is banded, joined and clustered on
  * the driver after one bounded collect; a corpus over the document bound
  * (50,000), the distinct candidate pair budget (10,000) or, for the
  * verify, the shingle bound (1,000,000) takes the Spark bucket
  * self-join. The Spark route is reached here through real inputs:
  * filler documents with ids from `FillerBase` up are added to each
  * input, either 150 documents with one shingle set (C(150, 2) = 11,175
  * candidate pairs), 40 copies of one 6,000-word document (780 pairs
  * holding 9.4M shingles) or 50,001 single-shingle documents from
  * `spark.range`. The filler never pairs with the input, so the input's
  * rows of both routes must be identical.
  */
class DedupRouteSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.01"
  private val FillerBase = 1000000000L

  private def fixture: DataFrame =
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")

  private val eleven = (1 to 11).map(i => s"w$i").mkString(" ")

  /** Near and exact duplicates, 11 and 12 words sharing 9 of 10
    * shingles (jaccard exactly 0.9), documents shorter than the shingle
    * size, null text and a repeated doc_id.
    */
  private def edge: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river"
    Seq[(Long, String)](
      (1L, base), (2L, base.replace("lazy", "sleepy")), (3L, base),
      (4L, eleven), (5L, eleven + " w12"),
      (6L, "a b"), (7L, "a b"), (8L, "x"), (9L, ""),
      (10L, null), (11L, null),
      (12L, base + " again"), (12L, eleven + " w12 w13"),
      (13L, "an unrelated document about columnar storage formats"))
      .toDF("doc_id", "text")
  }

  private def empty: DataFrame = edge.filter(lit(false))

  /** One shingle set in 150 documents of distinct bytes (trailing
    * spaces, so the exact pass keeps them all): over the pair budget.
    */
  private def crowd: DataFrame = spark.range(150).select(
    (col("id") + FillerBase).as("doc_id"),
    concat(lit("crowd of identical words"),
      expr("repeat(' ', cast(id as int))")).as("text"))

  /** One 6,000-word document in 40 copies of distinct bytes: within the
    * pair budget, over the verify's shingle bound.
    */
  private def longDocs: DataFrame = spark.range(40).select(
    (col("id") + FillerBase).as("doc_id"),
    concat(expr("concat_ws(' ', transform(sequence(1, 6000), " +
      "i -> concat('w', i)))"), expr("repeat(' ', cast(id as int))"))
      .as("text"))

  /** 50,001 single-shingle documents: one row over the document bound. */
  private def overBound: DataFrame = spark.range(50001).select(
    (col("id") + FillerBase).as("doc_id"),
    concat(lit("filler "), col("id").cast("string")).as("text"))

  /** (name, span, op, indices of the doc-id columns of its rows) */
  private val ops: Seq[(String, String, DataFrame => DataFrame, Seq[Int])] =
    Seq(
      ("minhash seeded", "dedup.minhash",
        d => Dedup.minhashCandidates(d), Seq(0, 1)),
      ("minhash portable", "dedup.minhash",
        d => Dedup.minhashCandidates(d, portable = true), Seq(0, 1)),
      ("lsh verify 0.5", "dedup.lsh_verify",
        d => Dedup.ngramJaccardPairsLsh(d, threshold = 0.5), Seq(0, 1)),
      ("lsh verify 0.9", "dedup.lsh_verify",
        d => Dedup.ngramJaccardPairsLsh(d, threshold = 0.9), Seq(0, 1)),
      ("clusters", "dedup.clusters",
        d => Dedup.nearDupClusters(d), Seq(0, 1)),
      ("pipeline", "dedup.lsh_verify",
        d => Dedup.dedupPipeline(d), Seq(0, 3)))

  /** `f`'s rows (collected before the staged caches are released) and
    * the attributes of every `span` it recorded.
    */
  private def routed(span: String)(
      f: => DataFrame): (Seq[Seq[Any]], Seq[Map[String, String]]) = {
    val mem = Trace.toMemory()
    try {
      val rows = f.collect().toSeq.map(_.toSeq)
      (rows, mem.spans.filter(_.name == span).map(_.attrs))
    } finally { Trace.disable(); Dedup.releaseCaches() }
  }

  private def sorted(rows: Seq[Seq[Any]]) = rows.sortBy(_.mkString("|"))

  /** The rows of the input's own ids; no row may mix them with filler. */
  private def own(rows: Seq[Seq[Any]], idCols: Seq[Int]): Seq[Seq[Any]] = {
    def ids(r: Seq[Any]) = idCols.map(r(_)).collect { case n: Number =>
      n.longValue }
    val (mine, other) = rows.partition(r => ids(r).forall(_ < FillerBase))
    assert(other.forall(r => ids(r).forall(_ >= FillerBase)),
      s"input and filler paired: ${other.filter(r => ids(r).exists(_ < FillerBase))}")
    mine
  }

  private def assertParity(input: String, x: DataFrame, filler: DataFrame,
                           only: String => Boolean = _ => true): Unit =
    ops.filter(o => only(o._1)).foreach { case (name, span, op, idCols) =>
      val (driver, dAttrs) = routed(span)(op(x))
      val (viaSpark, sAttrs) = routed(span)(op(x.unionByName(filler)))
      assert(dAttrs.map(_("route")) == Seq("driver"), s"$input / $name")
      assert(sAttrs.map(_("route")) == Seq("spark"), s"$input / $name")
      assert(sorted(own(viaSpark, idCols)) == sorted(driver),
        s"$input / $name: routes disagree")
    }

  test("pair budget: driver and Spark routes return identical rows") {
    Seq("documents fixture" -> fixture, "edge cases" -> edge,
        "empty corpus" -> empty).foreach { case (input, x) =>
      assertParity(input, x, crowd)
    }
    val (_, attrs) = routed("dedup.clusters")(
      Dedup.nearDupClusters(edge.unionByName(crowd)))
    assert(attrs.head("docs") == "164")
    assert(attrs.head("pairs") == "10001")
  }

  test("shingle bound: a verify holding too many shingles takes the " +
      "Spark route with the same rows") {
    val verifies = (name: String) =>
      name.startsWith("lsh verify") || name == "pipeline"
    Seq("documents fixture" -> fixture, "edge cases" -> edge,
        "empty corpus" -> empty).foreach { case (input, x) =>
      assertParity(input, x, longDocs, verifies)
    }
    val (_, attrs) = routed("dedup.lsh_verify")(
      Dedup.ngramJaccardPairsLsh(edge.unionByName(longDocs)))
    assert(attrs.head("pairs").toLong < 10000L)
    assert(attrs.head("shingles").toLong > 780L * 2 * 5998)
  }

  /** Output columns of every query `f` collects to the driver. */
  private def collected(f: => Unit): Seq[Seq[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        seen.add(qe.analyzed.output.map(_.name)); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      spark.range(1).select(lit(1).as("END_MARKER")).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.toArray.exists(_ == Seq("END_MARKER")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      seen.toArray(Array.empty[Seq[String]]).toSeq
        .filterNot(_ == Seq("END_MARKER"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("shingles reach the driver only for a verify within every bound") {
    def verify(x: DataFrame) = collected {
      routed("dedup.lsh_verify")(Dedup.ngramJaccardPairsLsh(x))
    }
    def withShingles(qs: Seq[Seq[String]]) = qs.count(_.contains("sh"))
    // within the bounds: the collect carries no shingles; one fetch does
    val within = verify(fixture)
    assert(within.exists(_ == Seq("doc_id", "sz", "sig", "keys")))
    assert(within.filter(_.contains("sh")) == Seq(Seq("doc_id", "sh", "sz")))
    // over the document bound, the pair budget or the shingle bound: none
    Seq(overBound, crowd, longDocs).foreach { filler =>
      assert(withShingles(verify(edge.unionByName(filler))) == 0)
    }
  }

  test("document bound: a 50,001-document corpus takes the Spark route " +
      "with the same rows") {
    ops.filter(o => Set("minhash seeded", "lsh verify 0.5", "clusters")
        .contains(o._1)).foreach { case (name, span, op, idCols) =>
      val (driver, _) = routed(span)(op(edge))
      val (viaSpark, attrs) = routed(span)(op(edge.unionByName(overBound)))
      assert(attrs.map(_("route")) == Seq("spark"), name)
      assert(attrs.head("docs") == "50001" && !attrs.head.contains("pairs"))
      assert(sorted(own(viaSpark, idCols)) == sorted(driver), name)
    }
  }

  test("jaccard boundary: 9 of 10 shared shingles report 0.9 and pass " +
      "threshold 0.9 on both routes") {
    import spark.implicits._
    val pair = Seq((4L, eleven), (5L, eleven + " w12")).toDF("doc_id", "text")
    val expected = Seq(Seq(4L, 5L, 0.9))
    val exact = Dedup.ngramJaccardPairs(pair.withColumn("lang", lit("en")),
      threshold = 0.9).collect().toSeq.map(_.toSeq)
    assert(exact == expected)
    val (driver, d) = routed("dedup.lsh_verify")(
      Dedup.ngramJaccardPairsLsh(pair, threshold = 0.9))
    assert(d.map(_("route")) == Seq("driver") && driver == expected)
    val (viaSpark, s) = routed("dedup.lsh_verify")(
      Dedup.ngramJaccardPairsLsh(pair.unionByName(crowd), threshold = 0.9))
    assert(s.map(_("route")) == Seq("spark"))
    assert(own(viaSpark, Seq(0, 1)) == expected)
    // the incremental screen keeps the same boundary
    val inc = Dedup.incrementalNearDups(pair.filter(col("doc_id") === 5L),
      pair.filter(col("doc_id") === 4L), threshold = 0.9).collect()
    Dedup.releaseCaches()
    assert(inc.map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq ==
      Seq((5L, false, 4L)))
  }

  test("a driver-sized call runs at most 2 Spark jobs, its result none") {
    val corpus = fixture.repartition(4).cache()
    try {
      corpus.count()
      ops.filter(_._1 != "pipeline").foreach { case (name, _, op, _) =>
        var out: DataFrame = null
        val call = jobsDuring { out = op(corpus) }
        assert(call >= 1 && call <= 2, s"$name: $call jobs")
        assert(jobsDuring(out.collect()) == 0, name)
      }
    } finally corpus.unpersist()
  }
}
