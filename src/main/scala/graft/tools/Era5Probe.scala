package graft.tools

import org.apache.spark.sql.functions._
import graft.repo._
import graft.storage.Store
import graft.zarr.ZarrStore

/** ERA5-shaped read workload (round 13) — the one BASELINE ★ row without
  * a direct bench twin: the weatherbench dataset shape, ~43 800 hourly
  * chunks/array × 4 data arrays ≈ 175 k chunk refs plus coordinate
  * arrays (reference `benchmarks/create_era5.py`,
  * `datasets.py:418-470`), probed with the reference's read-benchmark
  * operations (`test_benchmark_reads.py:31-114`):
  *
  *   - `zarr_open`: cold open of the group (repo open + zarr.json get)
  *   - `zarr_members`: hierarchy listing under the group
  *   - `getsize_key` / `getsize_prefix`: store size rollups
  *   - `first_byte`: first byte of the latitude coordinate array
  *   - `time_slice`: all 4 arrays' refs at one hour (extent-pruned)
  *
  * Chunk payloads are virtual refs into a synthetic source location
  * (the probe measures the METADATA plane, matching the reference
  * benchmarks, which time opens/listings/sizes — not payload
  * bandwidth); latitude/longitude are real so first-byte is a real
  * read. Run once per round, record in SURVEY §9 (scale-soak style):
  * `runMain graft.tools.Era5Probe [chunksPerArray] [latencyMs]`.
  */
object Era5Probe {
  def main(args: Array[String]): Unit = {
    val perArray = args.headOption.map(_.toInt).getOrElse(43800)
    val latencyMs = if (args.length > 1) args(1).toLong else 0L
    val spark = LocalSpark.session(8, "WARN",
      "spark.app.name" -> "graft-era5-probe")
    val dir = java.nio.file.Files.createTempDirectory("era5-probe").toString

    // ---- build: 4 data arrays, chunks time=1 (the weatherbench write
    // shape), manifest splits of 4 380 chunks (10 splits/array) ----
    val arrays = Seq("temp2m", "u10", "v10", "w10").map(n => s"/g/$n")
    val cfg = GraftConfig(
      splits = Seq(SplitRule("/g/.*", 0, math.max(1, perArray / 10))))
    val repo = Repository.create(Store.local(dir), spark, cfg)
    locally {
      val s = repo.writableSession("main")
      arrays.foreach(p => s.addArray(p, Seq(perArray.toLong, 2, 2),
        Seq(1, 2, 2), Seq("time", "y", "x"),
        userData = """{"dtype":"float32"}"""))
      // real coordinate arrays (first-byte target), one chunk each
      s.addArray("/g/latitude", Seq(721), Seq(721),
        userData = """{"dtype":"float32"}""")
      s.addArray("/g/longitude", Seq(1440), Seq(1440),
        userData = """{"dtype":"float32"}""")
      s.writeChunk("/g/latitude", Seq(0),
        Array.tabulate(721 * 4)(i => (i % 251).toByte))
      s.writeChunk("/g/longitude", Seq(0),
        Array.tabulate(1440 * 4)(i => (i % 241).toByte))
      s.commit("era5 skeleton")
    }
    locally {
      val t0 = System.nanoTime()
      val s = repo.writableSession("main")
      import spark.implicits._
      val refs = spark.range(perArray.toLong * arrays.size)
        .select(
          element_at(typedLit(arrays), (col("id") / perArray).cast("int") + 1)
            .as("path"),
          array((col("id") % perArray).cast("int"), lit(0), lit(0))
            .as("coord"),
          lit("virtual").as("kind"),
          concat(lit("s3://era5-src/chunk-"), col("id")).as("location"),
          lit(0L).as("offset"),
          lit(4L * 721 * 1440).as("length")) // one (1,721,1440) f32 plane
      s.stageChunkRefsBatch(arrays, refs)
      val id = s.commit("era5 ingest")
      println(f"[era5] ingest ${perArray * arrays.size}%d refs: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s (snapshot $id)")
    }

    // ---- measured phase: cold reopen (fresh caches), optional latency --
    val store: Store =
      if (latencyMs > 0) new graft.storage.LatencyStore(Store.local(dir), latencyMs)
      else Store.local(dir)
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[era5] $name%-18s ${(System.nanoTime() - t0) / 1e6}%9.1f ms")
      r
    }
    val cold = timed("zarr_open")(
      { val r = Repository.open(store, spark); r.info(); r })
    val ro = timed("readonly_session")(
      cold.readonlySession(VersionRef.Branch("main")))
    val z = new ZarrStore(ro)
    val members = timed("zarr_members")(z.listDir("g/"))
    println(s"[era5]   members = ${members.size}")
    val sz = timed("getsize_key")(z.getSize("g/latitude/c/0"))
    println(s"[era5]   latitude chunk bytes = $sz")
    val totalSz = timed("getsize_prefix")(z.getSizePrefix("g"))
    println(f"[era5]   prefix bytes = $totalSz%,d")
    val fb = timed("first_byte")(
      ro.materializeRange(ro.getChunkRef("/g/latitude", Seq(0)).get, 0, 1))
    println(s"[era5]   first byte = ${fb.head}")
    val slice = timed("time_slice_refs")(
      ro.getChunkRefsBatch(arrays.map(p => (p, Seq(17, 0, 0)))))
    println(s"[era5]   refs at t=17 = ${slice.flatten.size}")
    val scan = timed("refs_scan_all")(ro.allRefs().count())
    println(s"[era5]   total refs = $scan")
    spark.stop()
  }
}
