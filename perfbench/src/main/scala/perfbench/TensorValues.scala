package perfbench

import java.nio.file.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.repo._
import graft.tensor.TensorPlane

/** Value plane and the DSv2 connector on the local filesystem: an int64
  * cube under slab rewrites, full scans and slice reads per cycle, and
  * (in a traced run) DSv2 values writes on both routes and the regrid
  * ops once. It touches little manifest metadata (one ref per chunk).
  *
  * Cell (t, y, x) of a chunk last written in cycle g holds
  * `((t*Y*X + y*X + x + 7919*g) % 1000) - 500`, so every sum the checks
  * need follows from which cycle last wrote each chunk.
  */
final class TensorValues extends Workload {
  val t = 64        // cube time steps (chunks of 4 steps)
  val yx = 256      // cube y and x extent (one chunk spans them)
  val ct = 4
  val chunks = t / ct
  val chunkCells = ct * yx * yx
  val slab = 2      // chunks rewritten per write op
  val n = 64        // edge of the cube each DSv2 write creates
  val reads = 4     // slice reads per cycle
  val sliceYX = 64  // y and x extent of a slice read
  val dtype = "int64"
  val cubeMb = t.toDouble * yx * yx * 8 / (1 << 20)

  private var repo: Repository = null
  private var dir: Path = null
  private var gen: Array[Int] = Array.empty
  private var chunkSum: Array[Long] = Array.empty

  def shape: Map[String, Any] = Map("cube" -> s"${t}x${yx}x$yx int64",
    "chunk" -> s"${ct}x${yx}x$yx", "cube_mb" -> t.toLong * yx * yx * 8 / (1 << 20),
    "slab_chunks" -> slab, "dsv2_write_cube" -> s"${n}x${n}x$n",
    "reads_per_cycle" -> reads, "slice" -> s"${ct}x${sliceYX}x$sliceYX",
    "chunk_cache_bytes" -> java.lang.Long.getLong("graft.chunkCache.bytes", 256L << 20))

  def readKind = "slice"
  def batch = Map("write" -> 1.0, "scan" -> 1.0, "scan_dsv2" -> 1.0)
  val extraKinds = Seq("dsv2_write_provider", "dsv2_write_catalog", "scan_groupby", "region",
    "rechunk", "transpose", "downsample", "combine")

  private def cell(i: Long, g: Int): Long = ((i + 7919L * g) % 1000) - 500
  private def values(c: Int, g: Int): Array[Long] = {
    val base = c.toLong * chunkCells
    Array.tabulate(chunkCells)(e => cell(base + e, g))
  }
  private def total: Long = chunkSum.sum
  private def num(r: Row, f: String): Long = r.getAs[Any](f) match {
    case x: java.lang.Number => x.longValue
    case other => throw new IllegalStateException(s"$f = $other")
  }
  private def dsv2(ctx: Ctx, array: String) =
    ctx.spark.read.format("graft-v2").option("path", dir.toString)
      .option("array", array).option("mode", "values").option("dtype", dtype).load()
  private def ro = repo.readonlySession(VersionRef.Branch("main"))

  def build(ctx: Ctx, d: Path): Unit = {
    dir = d
    repo = Repository.create(ctx.store(d), ctx.spark, GraftConfig())
    val s = repo.writableSession("main")
    s.addArray("/cube", Seq(t, yx, yx), Seq(ct, yx, yx), Seq("t", "y", "x"),
      userData = """{"dtype":"int64"}""")
    gen = Array.fill(chunks)(0)
    chunkSum = Array.fill(chunks)(0L)
    (0 until chunks).foreach { c =>
      val v = values(c, 0)
      chunkSum(c) = v.sum
      s.writeChunk("/cube", Seq(c, 0, 0), graft.functions.ChunkCodec.encodeLongs(v, dtype))
    }
    s.commit("cube")
    ctx.spark.conf.set("spark.sql.catalog.perfbench", classOf[graft.sources.GraftCatalog].getName)
    ctx.spark.conf.set("spark.sql.catalog.perfbench.path", d.toString)
  }

  /** Expected (n, sum) of a region, from the closed form. */
  private def expect(b: Seq[(Long, Long)]): (Long, Long) = {
    var s = 0L; var cnt = 0L
    var tt = b(0)._1
    while (tt < b(0)._2) {
      val g = gen((tt / ct).toInt)
      var y = b(1)._1
      while (y < b(1)._2) {
        var x = b(2)._1
        while (x < b(2)._2) { s += cell(tt * yx * yx + y * yx + x, g); cnt += 1; x += 1 }
        y += 1
      }
      tt += 1
    }
    (cnt, s)
  }
  private def dsv2Sum(m: Long): Long = {
    // sum over id < m of (id % 1000 - 500)
    val full = m / 1000
    val rest = m % 1000
    full * (0L until 1000L).map(_ - 500).sum + (0L until rest).map(_ - 500).sum
  }

  def cycle(ctx: Ctx, k: Int, deadlineNs: Long): Boolean = {
    val rng = ctx.rng(k)
    def late = System.nanoTime() > deadlineNs
    val mb = 1.0 / (1 << 20)
    val cubeBytes = t.toDouble * yx * yx * 8

    // slab rewrite: encode and write whole chunks, then commit
    val cs = rng.shuffle((0 until chunks).toList).take(slab)
    val payload = cs.map(c => c -> values(c, k))
    ctx.op("write", units = slab * chunkCells * 8 * mb) {
      val s = repo.writableSession("main")
      payload.foreach { case (c, v) =>
        val bytes = ctx.layer("functions.encode")(graft.functions.ChunkCodec.encodeLongs(v, dtype))
        ctx.rec.note("functions.encode_bytes", v.length * 8.0)
        s.writeChunk("/cube", Seq(c, 0, 0), bytes)
      }
      s.commit(s"slab $k")
    } { _ =>
      payload.foreach { case (c, v) => gen(c) = k; chunkSum(c) = v.sum }
      val c = cs.head
      ro.getChunk("/cube", Seq(c, 0, 0)).exists(b =>
        graft.functions.ChunkCodec.decodeLongs(b, dtype).sum == chunkSum(c))
    }
    if (late) return false

    // full scans: the native stats kernel and the DSv2 columnar scan
    ctx.op("scan", units = cubeBytes * mb) {
      ctx.layer("tensor.scan")(TensorPlane.arrayStats(ro, "/cube", dtype).head())
    } { r => num(r, "n") == t.toLong * yx * yx && num(r, "sum") == total }
    if (late) return false
    ctx.op("scan_dsv2", units = cubeBytes * mb) {
      ctx.layer("sources.scan")(dsv2(ctx, "/cube").agg(sum(col("value")), count(lit(1))).head())
    } { r => r.getLong(0) == total && r.getLong(1) == t.toLong * yx * yx }
    if (late) return false

    slices(ctx, rng, k, deadlineNs)
  }

  /** DSv2 writes on both routes, a GROUP BY scan, a region read and the
    * regrid ops, once each; derived arrays are deleted after each.
    */
  override def extras(ctx: Ctx): Unit = {
    val rng = ctx.rng(-2)
    extraKinds.foreach { e => extra(ctx, rng, e); cleanup(ctx) }
  }

  private def extra(ctx: Ctx, rng: scala.util.Random, kind: String): Unit = {
    val mb = 1.0 / (1 << 20)
    val cubeBytes = t.toDouble * yx * yx * 8
    val cells = n.toLong * n * n
    kind match {
      case "dsv2_write_provider" =>
        ctx.op("dsv2_write_provider", units = cells * 8 * mb) {
          val s = repo.writableSession("main")
          s.addArray("/w_prov", Seq(n, n, n), Seq(ct, n, n))
          s.commit("w_prov")
          ctx.layer("sources.write") {
            ctx.spark.range(cells).selectExpr(
              s"id div ${n.toLong * n} as i0", s"(id div $n) % $n as i1", s"id % $n as i2",
              "id % 1000 - 500 as value", s"id div ${ct.toLong * n * n} as _c0",
              "0L as _c1", "0L as _c2")
              .write.format("graft-v2").option("path", dir.toString).option("array", "/w_prov")
              .option("mode", "values").option("dtype", dtype).option("clustered", "true")
              .option("message", "provider write").mode("append").save()
          }
        } { _ =>
          val r = dsv2(ctx, "/w_prov").agg(count(lit(1)), sum(col("value"))).head()
          r.getLong(0) == cells && r.getLong(1) == dsv2Sum(cells)
        }
      case "dsv2_write_catalog" =>
        val cat = "w_cat"
        ctx.op("dsv2_write_catalog", units = cells * 8 * mb) {
          val s = repo.writableSession("main")
          s.addArray(s"/$cat", Seq(n, n, n), Seq(ct, n, n), userData = """{"dtype":"int64"}""")
          s.commit(cat)
          ctx.layer("sources.write") {
            ctx.spark.sql(
              s"""INSERT INTO perfbench.$cat
                 |SELECT id div ${n.toLong * n} AS i0, (id div $n) % $n AS i1,
                 |       id % $n AS i2, id % 1000 - 500 AS value
                 |FROM range($cells)""".stripMargin)
          }
        } { _ =>
          val r = dsv2(ctx, s"/$cat").agg(count(lit(1)), sum(col("value"))).head()
          r.getLong(0) == cells && r.getLong(1) == dsv2Sum(cells)
        }
      case "scan_groupby" =>
        ctx.op("scan_groupby", units = cubeBytes * mb) {
          ctx.layer("sources.scan") {
            dsv2(ctx, "/cube").groupBy(col("i0")).agg(sum(col("value")), count(lit(1))).collect()
          }
        } { rows => rows.length == t && rows.map(_.getLong(1)).sum == total }
      case "region" =>
        val t0 = rng.nextInt(t - ct).toLong
        val y0 = rng.nextInt(yx - sliceYX).toLong
        val region = Seq((t0, t0 + ct), (y0, y0 + sliceYX), (0L, yx.toLong))
        ctx.op("region") {
          ctx.layer("tensor.slice") {
            TensorPlane.valuesRegion(ro, "/cube", dtype, region)
              .agg(count(lit(1)), sum(col("value"))).head()
          }
        } { r => (r.getLong(0), r.getLong(1)) == expect(region) }
      case "rechunk" =>
        // to a coarser grid and back, so later cycles see the cube as built
        ctx.op("rechunk", units = 2 * cubeBytes * mb) {
          val s = repo.writableSession("main")
          ctx.layer("tensor.regrid")(TensorPlane.rechunk(s, "/cube", Seq(2L * ct, yx / 2L, yx / 2L), dtype))
          s.commit("rechunk")
          val s2 = repo.writableSession("main")
          ctx.layer("tensor.regrid")(TensorPlane.rechunk(s2, "/cube", Seq(ct.toLong, yx, yx), dtype))
          s2.commit("rechunk back")
        } { _ =>
          val r = TensorPlane.arrayStats(ro, "/cube", dtype).head()
          ro.node("/cube").exists(_.chunkShape == Seq(ct.toLong, yx, yx)) && num(r, "sum") == total
        }
      case "transpose" =>
        ctx.op("transpose", units = cubeBytes * mb) {
          val s = repo.writableSession("main")
          ctx.layer("tensor.regrid")(TensorPlane.transpose(s, "/cube", "/cube_t", Seq(2, 0, 1), dtype))
          s.commit("transpose")
        } { _ =>
          val r = TensorPlane.arrayStats(ro, "/cube_t", dtype).head()
          num(r, "n") == t.toLong * yx * yx && num(r, "sum") == total
        }
      case "downsample" =>
        ctx.op("downsample", units = cubeBytes * mb) {
          val s = repo.writableSession("main")
          ctx.layer("tensor.regrid")(TensorPlane.downsample(s, "/cube", "/cube_l1", Seq(4, 4, 4), dtype))
          s.commit("downsample")
        } { _ => ro.node("/cube_l1").exists(_.shape == Seq(t / 4L, yx / 4L, yx / 4L)) }
      case _ =>
        ctx.op("combine", units = 2 * cubeBytes * mb) {
          val s = repo.writableSession("main")
          ctx.layer("tensor.regrid")(TensorPlane.combine(s, "/cube", "/cube", "/cube_2x", "add", dtype))
          s.commit("combine")
        } { _ =>
          val r = TensorPlane.arrayStats(ro, "/cube_2x", dtype).head()
          num(r, "sum") == 2 * total
        }
    }
  }

  private def cleanup(ctx: Ctx): Unit = {
    val derived = ro.nodes.filter(n => n.isArray && n.path != "/cube").map(_.path)
    if (derived.nonEmpty) {
      ctx.op("cleanup") {
        val s = repo.writableSession("main")
        derived.foreach(s.deleteNode)
        s.commit("cleanup")
      } { _ => ro.nodes.count(_.isArray) == 1 }
    }
  }

  /** Slice reads with pushed-down statistics. */
  private def slices(ctx: Ctx, rng: scala.util.Random, k: Int, deadlineNs: Long): Boolean = {
    for (_ <- 0 until (if (k == 0) 1 else reads)) {
      // chunk-aligned in t, so every slice decodes exactly one chunk
      val t0 = rng.nextInt(chunks).toLong * ct
      val y0 = rng.nextInt(yx - sliceYX).toLong
      val x0 = rng.nextInt(yx - sliceYX).toLong
      val b = Seq((t0, t0 + ct), (y0, y0 + sliceYX), (x0, x0 + sliceYX))
      ctx.op("slice") {
        ctx.layer("tensor.slice")(TensorPlane.sliceStats(ro, "/cube", dtype, b).head())
      } { r => (num(r, "n"), num(r, "sum")) == expect(b) }
      if (System.nanoTime() > deadlineNs) return false
    }
    true
  }
}
