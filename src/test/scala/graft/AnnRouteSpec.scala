package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Trace
import graft.pipeline.{KMeansLocal, Similarity}

/** The two routes of the ANN operators (`ivfIndex`, `neighborsPerVector`,
  * `ivfTopK`). A driver-sized input is collected once and worked on the
  * driver; an input over the vector bound (20,000), the cell bound
  * (1,280,000 vector cells) or the neighbour pair budget takes the Spark
  * route, as does an IVF index that is not a local relation. The Spark
  * route is reached here through real inputs built from `spark.range`:
  * `neighborsPerVector` gets one filler vector of 1,300,000 extra cells,
  * alone in an LSH bucket the input does not use, so it pairs with
  * nothing; `ivfIndex` gets 1,300 filler rows after a 19,000-row input,
  * with a fit sample cap of 18,500, so that both routes fit on the
  * input's first 18,500 rows (the sample fraction is 1 at both sizes).
  */
class AnnRouteSpec extends SparkTestBase {
  private val FillerBase = 1000000000L

  /** 500 vectors of 64 dims, as a plan of unknown size. */
  private def fixture: DataFrame = ranged(500, 0L, 64)

  /** `f`'s rows and the attributes of every `span` it recorded. */
  private def routed(span: String)(
      f: => DataFrame): (Seq[Row], Seq[Map[String, String]]) = {
    val mem = Trace.toMemory()
    try {
      val df = f
      (df.collect().toSeq, mem.spans.filter(_.name == span).map(_.attrs))
    } finally Trace.disable()
  }

  /** Rows as strings (NaN equals NaN), sorted. */
  private def sorted(rows: Seq[Row]) = rows.map(_.mkString("|")).sorted

  /** Rows of the input's own ids (the first `idCols` columns). */
  private def own(rows: Seq[Row], idCols: Int): Seq[Row] = rows.filter(r =>
    (0 until idCols).forall(i => r.get(i).toString.toLong < FillerBase))

  /** `dim`-cell vectors built from `spark.range(n)`, ids from `base`. */
  private def ranged(n: Long, base: Long, dim: Int = 8): DataFrame =
    spark.range(n).select((col("id") + base).as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), i -> " +
        "cast((xxhash64(id, i) % 1000) / 1000.0 as float))").as("embedding"))

  /** Edge cases in dim 8: a first vector of `first` in every cell, which
    * for 0 and NaN lands in the LSH bucket of all sign bits at 4 planes,
    * with three vectors put there (so a NaN vector gives NaN cosines); 30
    * copies of one vector (cos ties, and a hot bucket over a cap of 16);
    * near copies of two bases.
    */
  private def edge(first: Float): DataFrame = {
    import spark.implicits._
    val planes = Similarity.randomPlanes(4, 8)
    // a vector on the positive side of every plane (perceptron)
    val up = Array.fill(8)(0.0)
    def below(p: Seq[Double]) =
      p.zip(up).map { case (a, b) => a * b }.sum <= 0.1
    var bad = planes.find(below)
    while (bad.isDefined) {
      bad.get.indices.foreach(i => up(i) += bad.get(i))
      bad = planes.find(below)
    }
    val rng = new scala.util.Random(3)
    def near(v: Seq[Double]) =
      v.map(x => (x + 0.01 * rng.nextGaussian()).toFloat)
    val base1 = Seq.fill(8)(rng.nextGaussian())
    val base2 = Seq.fill(8)(rng.nextGaussian())
    val hot = Seq.fill(8)(rng.nextGaussian().toFloat)
    val vecs: Seq[Seq[Float]] = Seq(Seq.fill(8)(first), up.toSeq.map(_.toFloat),
        up.toSeq.map(_.toFloat), near(up.toSeq)) ++
      Seq.fill(30)(hot) ++ Seq.fill(5)(near(base1)) ++ Seq.fill(5)(near(base2))
    vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("vec_id", "embedding")
  }

  /** One vector of `dim` + 1,300,000 cells (over the cell bound) whose
    * first `dim` cells put it in an LSH bucket `x` does not use.
    */
  private def wideFiller(x: DataFrame, numPlanes: Int, dim: Int): DataFrame = {
    import spark.implicits._
    val used = Similarity.lshBuckets(x, numPlanes, dim).select("bucket")
      .collect().map(_.getLong(0)).toSet
    val rng = new scala.util.Random(7)
    val candidates = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val d = Similarity.lshBuckets(candidates, numPlanes, dim).collect()
      .find(r => !used(r.getAs[Long]("bucket"))).get
      .getSeq[Float](1).toList
    spark.range(1).select(
      (col("id") + FillerBase).cast(x.schema("vec_id").dataType).as("vec_id"),
      // a repeat count of a column, so no wide literal is folded into the
      // plan
      concat(typedLit(d), array_repeat(lit(0.0f),
        (col("id") + 1300000).cast("int"))).as("embedding"))
  }

  test("neighbors: driver and Spark routes return identical rows") {
    val edgeInt = edge(Float.NaN)
    val cases: Seq[(String, DataFrame, Int, Int, Int)] = Seq(
      ("fixture", fixture, 8, 64, 4096),
      ("edge, int ids, hot bucket capped", edgeInt, 4, 8, 16),
      ("edge, uncapped", edgeInt, 4, 8, 4096),
      ("edge, string ids", edgeInt.withColumn("vec_id",
        col("vec_id").cast("string")), 4, 8, 16))
    cases.foreach { case (name, x, planes, dim, cap) =>
      def op(d: DataFrame) = Similarity.neighborsPerVector(d, k = 5,
        numPlanes = planes, dim = dim, maxBucketSize = cap)
      val (driver, dAttrs) = routed("ann.neighbors")(op(x))
      val (viaSpark, sAttrs) = routed("ann.neighbors")(
        op(x.unionByName(wideFiller(x, planes, dim))))
      assert(dAttrs.map(_("route")) == Seq("driver"), name)
      assert(sAttrs.map(_("route")) == Seq("spark"), name)
      assert(dAttrs.head("vectors").toLong == x.count(), name)
      assert(dAttrs.head("pairs").toLong > 0, name)
      assert(driver.nonEmpty, name)
      assert(driver.head.schema == viaSpark.head.schema, name)
      assert(sorted(own(viaSpark, 2)) == sorted(driver),
        s"$name: routes disagree")
    }
    // the edge rows hold what they were built for: a NaN cosine, and a
    // cap that changes the hot bucket's neighbours
    def edgeRows(cap: Int) = routed("ann.neighbors")(
      Similarity.neighborsPerVector(edgeInt, k = 5, numPlanes = 4, dim = 8,
        maxBucketSize = cap))._1
    val capped = edgeRows(16)
    assert(capped.exists(r => r.getDouble(2).isNaN), "no NaN cosine")
    assert(capped.count(r => r.getInt(0) >= 4 && r.getInt(0) < 34) == 30 * 5)
    assert(sorted(capped) != sorted(edgeRows(4096)), "the cap kept every row")
  }

  test("neighbors: repeated ids take the Spark route, a zero vector the driver") {
    def op(x: DataFrame) = Similarity.neighborsPerVector(x, k = 5,
      numPlanes = 4, dim = 8)
    val (repeated, r1) = routed("ann.neighbors")(op(edge(Float.NaN)
      .unionByName(edge(Float.NaN).limit(1))))
    assert(r1.map(_("route")) == Seq("spark") && repeated.nonEmpty)
    // a zero vector's cosines are null, the same rows on both routes
    val zero = edge(0f)
    val (driver, dAttrs) = routed("ann.neighbors")(op(zero))
    val (viaSpark, sAttrs) = routed("ann.neighbors")(
      op(zero.unionByName(wideFiller(zero, 4, 8))))
    assert(dAttrs.map(_("route")) == Seq("driver"))
    assert(sAttrs.map(_("route")) == Seq("spark"))
    assert(sorted(own(viaSpark, 2)) == sorted(driver))
    // vector 0 is the zero vector, in a bucket of three others: it gets
    // them by id, and each of them gets it last
    val (ofZero, rest) = driver.partition(r =>
      r.getInt(0) == 0 || r.getInt(1) == 0)
    assert(ofZero.size == 6 && ofZero.forall(_.isNullAt(2)))
    assert(rest.forall(r => !r.isNullAt(2)))
    assert(ofZero.filter(_.getInt(0) == 0).map(r => (r.getInt(1), r.getInt(3)))
      == Seq((1, 1), (2, 2), (3, 3)))
    assert(ofZero.filter(_.getInt(1) == 0).forall(_.getInt(3) == 3))
  }

  test("ivfIndex: the driver route equals the Spark route's fit and " +
      "assignment") {
    Seq("fixture" -> fixture, "edge" -> edge(0f)).foreach { case (name, x) =>
      val ((ix, centers), attrs) = {
        val mem = Trace.toMemory()
        try (Similarity.ivfIndex(x, nlist = 8),
          mem.spans.filter(_.name == "ann.ivf_build").map(_.attrs))
        finally Trace.disable()
      }
      assert(attrs.map(_("route")) == Seq("driver"), name)
      val points = x.select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      val fit = KMeansLocal.fit(points, 8, 10, 42L)
      assert(centers.map(_.toSeq).toSeq == fit.map(_.toSeq).toSeq, name)
      val viaSpark = x.withColumn("list_id", Similarity.nearestCentroid(
        col("embedding").cast("array<double>"), centers))
      assert(ix.schema == viaSpark.schema, name)
      assert(sorted(ix.collect().toSeq) == sorted(viaSpark.collect().toSeq),
        name)
    }
  }

  test("ivfIndex sample path: a 20,300-row input takes the Spark route " +
      "with the same centers and lists") {
    val x = ranged(19000, 0L)
    def op(d: DataFrame) = {
      val mem = Trace.toMemory()
      try {
        val (ix, c) = Similarity.ivfIndex(d, nlist = 8, fitSampleCap = 18500)
        (ix.select("vec_id", "list_id").collect().toSeq, c.map(_.toSeq).toSeq,
          mem.spans.filter(_.name == "ann.ivf_build").map(_.attrs))
      } finally Trace.disable()
    }
    val (driver, dc, dAttrs) = op(x)
    val (viaSpark, sc, sAttrs) = op(x.unionByName(ranged(1300, FillerBase)))
    assert(dAttrs.map(_("route")) == Seq("driver"))
    assert(sAttrs.map(_("route")) == Seq("spark"))
    assert(sAttrs.head("vectors") == "20001")
    assert(dc == sc)
    assert(sorted(own(viaSpark, 1)) == sorted(driver))
  }

  test("ivfTopK: a driver-held index and a Spark frame of the same rows " +
      "return identical rows") {
    import spark.implicits._
    val (ix, centers) = Similarity.ivfIndex(fixture, nlist = 16)
    val vecs = fixture.collect().map(_.getSeq[Float](1).toList)
    // a NaN vector in list 0 (NaN cosines sort first) and string ids
    val withNaN = graft.core.DriverRoute.local(ix.unionByName(
      Seq((-1L, vecs(0).map(_ => Float.NaN), 0)).toDF("vec_id", "embedding",
        "list_id")))
    val byString = graft.core.DriverRoute.local(
      ix.withColumn("vec_id", col("vec_id").cast("string")))
    for ((name, index) <- Seq("long ids" -> ix, "NaN vector" -> withNaN,
           "string ids" -> byString);
         q <- Seq(vecs(0), vecs(7));
         (k, nprobe) <- Seq((10, 4), (20, 16), (600, 2))) {
      val (driver, d) = routed("ann.ivf_query")(
        Similarity.ivfTopK(index, centers, q, k, nprobe))
      val (viaSpark, s) = routed("ann.ivf_query")(
        Similarity.ivfTopK(index.repartition(3), centers, q, k, nprobe))
      assert(d.map(_("route")) == Seq("driver"), name)
      assert(s.map(_("route")) == Seq("spark"), name)
      assert(driver.map(_.mkString("|")) == viaSpark.map(_.mkString("|")),
        s"$name k=$k nprobe=$nprobe: routes disagree")
      if (name == "NaN vector" && nprobe == 16)
        assert(driver.head.getDouble(1).isNaN)
    }
    // a zero query's cosines are all null: both routes give the probed
    // lists' lowest ids
    val zero = vecs(0).map(_ => 0f)
    val (driver, d) = routed("ann.ivf_query")(
      Similarity.ivfTopK(ix, centers, zero, 10, 4))
    val (viaSpark, s) = routed("ann.ivf_query")(
      Similarity.ivfTopK(ix.repartition(3), centers, zero, 10, 4))
    assert(d.map(_("route")) == Seq("driver"))
    assert(s.map(_("route")) == Seq("spark"))
    assert(driver.map(_.mkString("|")) == viaSpark.map(_.mkString("|")))
    assert(driver.size == 10 && driver.forall(_.isNullAt(1)))
    val ids = driver.map(_.getLong(0))
    assert(ids == ids.sorted)
  }

  test("job counts: a driver-held index answers with no job; the driver " +
      "routes run at most one, their results none") {
    val emb = fixture.repartition(4).cache()
    try {
      emb.count()
      var ix: (DataFrame, Array[Array[Double]]) = null
      assert(jobsDuring { ix = Similarity.ivfIndex(emb, nlist = 16) } <= 1)
      assert(jobsDuring(ix._1.collect()) == 0)
      val q = emb.head().getSeq[Float](1)
      val cached = ix._1.cache()
      cached.count()
      var top: DataFrame = null
      assert(jobsDuring {
        top = Similarity.ivfTopK(cached, ix._2, q, 10, nprobe = 4)
      } == 0)
      assert(jobsDuring(top.collect()) == 0)
      assert(top.collect().length == 10)
      cached.unpersist()
      var nb: DataFrame = null
      assert(jobsDuring { nb = Similarity.neighborsPerVector(emb, 5) } <= 1)
      assert(jobsDuring(nb.collect()) == 0)
    } finally emb.unpersist()
  }
}
