package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Trace
import graft.functions.ChunkCodec
import graft.repo._
import graft.storage.Store
import graft.tensor.TensorPlane

/** `TensorPlane.sliceStats` reduces a small region on the driver and a
  * large one with a Spark job. Every case asks both routes the same
  * question: a small region (driver route) and the same region widened
  * over a sparse array's empty chunks until it touches more than 32 of
  * them (Spark route). Both answers must match each other — values and
  * schema — and an oracle aggregated from the `TensorPlane.values`
  * explode.
  */
class SliceRouteSpec extends SparkTestBase {

  private val dtypes = Seq("int64", "float64")

  /** Cell value at global (i0, i1): small, signed, and a multiple of
    * 0.25 for float64, so every sum is exact in any order.
    */
  private def cell(dtype: String, i0: Long, i1: Long): Any = {
    val v = (i0 * 7 + i1 * 3) % 23 - 11
    if (dtype == "int64") v else v * 0.25
  }

  private def encode(dtype: String, vals: Seq[Any]): Array[Byte] =
    if (dtype == "int64")
      ChunkCodec.encodeLongs(vals.map(_.asInstanceOf[Long]).toArray, dtype)
    else ChunkCodec.encodeDoubles(vals.map(_.asInstanceOf[Double]).toArray,
      dtype)

  /** `(i0, i1, value)` rows for `[0, n0) x [0, n1)` where `keep` holds. */
  private def cells(dtype: String, n0: Long, n1: Long,
                    keep: (Long, Long) => Boolean = (_, _) => true,
                    shift: Long = 0): DataFrame = {
    val rows = for {
      i0 <- 0L until n0; i1 <- 0L until n1 if keep(i0, i1)
    } yield (i0, i1, cell(dtype, i0 + shift, i1))
    if (dtype == "int64") spark.createDataFrame(rows.map { case (a, b, v) =>
      (a, b, v.asInstanceOf[Long]) }).toDF("i0", "i1", "value")
    else spark.createDataFrame(rows.map { case (a, b, v) =>
      (a, b, v.asInstanceOf[Double]) }).toDF("i0", "i1", "value")
  }

  /** Run one `sliceStats` call, asserting which route it took. */
  private def routed(route: String)(f: => DataFrame): (DataFrame, Row) = {
    val mem = Trace.toMemory()
    try {
      val df = f
      val spans = mem.spans.filter(_.name == "slice")
      assert(spans.size == 1 && spans.head.attrs.get("route").contains(route),
        s"expected the $route route: ${spans.map(_.attrs)}")
      (df, df.head())
    } finally Trace.disable()
  }

  /** Both routes and the oracle agree on `region`; `wide` widens it over
    * empty chunks only (the region ends where the stored chunks do), so
    * it holds the same cells.
    */
  private def agree(s: Session, path: String, dtype: String,
                    region: Seq[(Long, Long)],
                    wide: Seq[(Long, Long)]): Unit = {
    val (dDf, d) = routed("driver")(
      TensorPlane.sliceStats(s, path, dtype, region))
    val (sDf, sp) = routed("spark")(
      TensorPlane.sliceStats(s, path, dtype, wide))
    assert(dDf.schema == sDf.schema)
    assert(d == sp, s"driver $d vs spark $sp")
    val inRegion = region.zipWithIndex.map { case ((lo, hi), i) =>
      col(s"i$i") >= lo && col(s"i$i") < hi }.reduce(_ && _)
    val v = col("value").cast("double")
    val o = TensorPlane.values(s, path, dtype).filter(inRegion)
      .agg(count(lit(1)), sum(v), min(v), max(v)).head()
    if (o.getLong(0) == 0)
      assert(d == Row(null, null, null, null, null), s"empty region: $d")
    else {
      assert(d.getAs[Long]("n") == o.getLong(0))
      assert(d.getAs[Double]("sum") == o.getDouble(1))
      assert(d.getAs[Double]("min") == o.getDouble(2))
      assert(d.getAs[Double]("max") == o.getDouble(3))
      assert(d.getAs[Double]("avg") == o.getDouble(1) / o.getLong(0))
    }
  }

  test("regular grid with partial edge chunks: routes and oracle agree") {
    dtypes.foreach { dtype =>
      val repo = Repository.create(Store.local(tmpDir("slice-reg")), spark)
      val s = repo.writableSession("main")
      // 3 x 100 grid of 4x20 chunks (640 B: chunk objects); the last
      // chunk row is partial and only chunk columns 0-1 are written
      s.addArray("/a", Seq(10, 2000), Seq(4, 20))
      TensorPlane.writeValues(s, "/a", cells(dtype, 10, 40), dtype)
      s.commit("edge")
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      // hi past the shape on dim 0 clips to the array edge
      agree(ro, "/a", dtype, Seq((1L, 50L), (3L, 40L)),
        Seq((1L, 50L), (3L, 2000L)))
      agree(ro, "/a", dtype, Seq((9L, 10L), (39L, 40L)),
        Seq((9L, 10L), (39L, 2000L)))
    }
  }

  test("rectilinear grid: routes and oracle agree") {
    dtypes.foreach { dtype =>
      val repo = Repository.create(Store.local(tmpDir("slice-rect")), spark)
      val s = repo.writableSession("main")
      // dim 1: chunks of 4 and 2, then 40 empty chunks of 3
      s.addArrayRectilinear("/r", Seq(5, 126),
        Seq(Seq(2L, 3L), Seq(4L, 2L) ++ Seq.fill(40)(3L)))
      TensorPlane.writeValues(s, "/r", cells(dtype, 5, 6), dtype)
      s.commit("rect")
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      agree(ro, "/r", dtype, Seq((1L, 4L), (3L, 6L)),
        Seq((1L, 4L), (3L, 126L)))
      agree(ro, "/r", dtype, Seq((0L, 5L), (0L, 6L)),
        Seq((0L, 5L), (0L, 126L)))
    }
  }

  test("sparse array: missing chunks add nothing; empty region is all-null") {
    dtypes.foreach { dtype =>
      val repo = Repository.create(Store.local(tmpDir("slice-sparse")),
        spark)
      val s = repo.writableSession("main")
      s.addArray("/s", Seq(16, 2000), Seq(4, 20))
      // chunks (0,0), (2,1) and (3,0) only
      val present = Set((0L, 0L), (2L, 1L), (3L, 0L))
      TensorPlane.writeValues(s, "/s", cells(dtype, 16, 40,
        (i0, i1) => present((i0 / 4, i1 / 20))), dtype)
      s.commit("sparse")
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      assert(ro.refs("/s").count() == 3)
      agree(ro, "/s", dtype, Seq((2L, 15L), (5L, 40L)),
        Seq((2L, 15L), (5L, 2000L)))
      // chunk row 1 holds no chunk at all
      agree(ro, "/s", dtype, Seq((4L, 8L), (0L, 40L)),
        Seq((4L, 8L), (0L, 2000L)))
    }
  }

  test("the byte bound: a one-chunk box past 64 MiB takes the Spark route") {
    val repo = Repository.create(Store.local(tmpDir("slice-bytes")), spark)
    val s = repo.writableSession("main")
    // one (missing) chunk of 9 M cells: 9 MB as int8, 72 MB as int64
    s.addArray("/b", Seq(2, 9000000), Seq(1, 9000000))
    s.commit("empty")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val region = Seq((0L, 1L), (0L, 10L))
    val empty = Row(null, null, null, null, null)
    assert(routed("driver")(
      TensorPlane.sliceStats(ro, "/b", "int8", region))._2 == empty)
    assert(routed("spark")(
      TensorPlane.sliceStats(ro, "/b", "int64", region))._2 == empty)
  }

  test("inline, object and virtual refs: routes and oracle agree") {
    dtypes.foreach { dtype =>
      val ext = tmpDir("slice-ext")
      val repo = Repository.create(Store.local(tmpDir("slice-kinds")), spark,
        GraftConfig(), graft.virt.VirtualChunkResolver("file://" + ext))
      val s = repo.writableSession("main")
      // 8x10 chunks are 640 B: writeChunk stores them as objects
      s.addArray("/k", Seq(8, 4000), Seq(8, 10))
      def chunk(c1: Int): Array[Byte] = encode(dtype,
        for (i0 <- 0L until 8L; i1 <- 0L until 10L)
          yield cell(dtype, i0, c1 * 10L + i1))
      s.writeChunk("/k", Seq(0, 0), chunk(0))
      s.setChunkRef("/k", Seq(0, 1),
        graft.meta.ChunkRef.inlineRef("", Seq(0, 1), chunk(1)))
      val blob = java.nio.file.Paths.get(ext, "blob.bin")
      java.nio.file.Files.write(blob, Array.fill[Byte](7)(9) ++ chunk(2))
      s.setVirtualRef("/k", Seq(0, 2), "file://" + blob, 7,
        chunk(2).length.toLong)
      s.commit("kinds")
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      assert(ro.refs("/k").select("kind").collect().map(_.getString(0))
        .toSet == Set(graft.meta.ChunkRef.KindRef,
          graft.meta.ChunkRef.KindInline, graft.meta.ChunkRef.KindVirtual))
      agree(ro, "/k", dtype, Seq((1L, 7L), (4L, 30L)),
        Seq((1L, 7L), (4L, 4000L)))
    }
  }

  test("writable sessions: point edits and a staged batch win on both routes") {
    dtypes.foreach { dtype =>
      val repo = Repository.create(Store.local(tmpDir("slice-dirty")), spark)
      val s = repo.writableSession("main")
      s.addArray("/w", Seq(8, 2000), Seq(4, 20))
      TensorPlane.writeValues(s, "/w", cells(dtype, 8, 60), dtype)
      s.commit("base")
      val region = Seq((1L, 8L), (2L, 60L))
      val wide = Seq((1L, 8L), (2L, 2000L))

      // point edits: overwrite (0,1), delete (1,2), add nothing else
      val pe = repo.writableSession("main")
      pe.writeChunk("/w", Seq(0, 1), encode(dtype,
        for (i0 <- 0L until 4L; i1 <- 20L until 40L)
          yield cell(dtype, i0 + 5, i1)))
      pe.deleteChunk("/w", Seq(1, 2))
      agree(pe, "/w", dtype, region, wide)

      // a staged batch over chunk row 1 (columns 0-1)
      val sb = repo.writableSession("main")
      TensorPlane.writeValues(sb, "/w", cells(dtype, 8, 40,
        (i0, _) => i0 >= 4, shift = 3), dtype)
      agree(sb, "/w", dtype, region, wide)
    }
  }

  test("a read-only one-chunk slice launches no Spark job") {
    val repo = Repository.create(Store.local(tmpDir("slice-jobs")), spark)
    val s = repo.writableSession("main")
    s.addArray("/c", Seq(8, 64), Seq(8, 64))
    TensorPlane.writeValues(s, "/c", cells("int64", 8, 64), "int64")
    s.commit("one chunk")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    var r = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsDuring {
      r = TensorPlane.sliceStats(ro, "/c", "int64",
        Seq((2L, 5L), (10L, 20L))).collect()
    }
    assert(r.length == 1 && r(0).getAs[Long]("n") == 30)
    assert(jobs == 0, s"$jobs Spark jobs")
  }
}
