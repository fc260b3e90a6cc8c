package graft.tools

import org.apache.spark.sql.SparkSession
import graft.repo._
import graft.storage.{LatencyStore, LoggingStore, Store}

/** Object-store latency soak (round 13): measure the engine's driver-side
  * metadata paths under injected per-operation RTT, and count the store
  * round trips on each critical path.
  *
  * Motivation: every prior bench/soak ran against local disk (sub-ms
  * RTT), while the production target is an object store at 50–200 ms RTT
  * — where cost is #round-trips, not bytes (the reference's own latency
  * recipe: MinIO+toxiproxy, `icechunk/benches/README.md`,
  * `ICECHUNK_BENCH_LATENCY_MS`). A path that is "fast" locally but
  * performs N *sequential* store operations costs N×RTT there; this tool
  * reports, per workload entry: wall time, total store ops by kind, and
  * the effective serial-RTT depth (wall / RTT), which is the number the
  * fixes drive down.
  *
  * Scope (widened round 14): the latency decorator wraps the `Store`
  * interface (the driver's metadata plane), its `conf` now carries the
  * decoration to EXECUTOR-side clients ([[graft.storage
  * .LatencyStoreConf]] — chunk-fetch UDFs, replicate/fsck
  * mapPartitions), and the `spark_*` entries route manifest Parquet
  * scans through the latency store via a `graft://` identity
  * ([[graft.storage.GraftUriStore]] + GraftFileSystem registry). So the
  * walls here measure BOTH planes; the op counts cover the driver store
  * only (executor clients are separate instances).
  *
  * Usage: `runMain graft.tools.LatencySoak [rttMs ...]` (default:
  * 0 50 150). The repo is BUILT at zero latency (setup is not under
  * test), then reopened behind `LatencyStore` for the measured phase.
  */
object LatencySoak {

  final case class Entry(name: String, rttMs: Long, wallMs: Long,
                         ops: Map[String, Long]) {
    def totalOps: Long = ops.values.sum
    def serialDepth: String =
      if (rttMs == 0) "-" else f"${wallMs.toDouble / rttMs}%.1f"
    def render: String =
      f"$name%-28s rtt=$rttMs%4dms wall=$wallMs%6dms serialRTTs=$serialDepth%6s " +
        s"ops=[${ops.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" ")}]"
  }

  def main(args: Array[String]): Unit = {
    val rtts = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(0L, 50L, 150L)
    val spark = LocalSpark.session(8, "WARN",
      "spark.app.name" -> "graft-latency-soak")
    try rtts.foreach(rtt => soakOnce(spark, rtt))
    finally spark.stop()
  }

  private def soakOnce(spark: SparkSession, rttMs: Long): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"latsoak-$rttMs")
    val raw = Store.local(dir.toString)

    // ---- build phase (zero latency): 400-commit history, two arrays ----
    // DEFAULT commitRetries since round 15: the retry budget is
    // progress-aware — a lost round whose generation advanced proves a
    // peer landed and draws on the 16× hard cap instead of the flat
    // budget, so the 8×10 contention entry below (up to 79 lost races
    // per writer, the N×commits lock-free bound) converges without
    // per-deployment budget tuning
    val cfg = GraftConfig(snapshotIndexWindow = 16,
      splits = Seq(SplitRule(".*", 0, 8)))
    val build = Repository.create(raw, spark, cfg)
    locally {
      val s = build.writableSession("main")
      s.addArray("/a", Seq(512), Seq(4)) // 128 chunks / 16 splits
      s.commit("init")
    }
    (0 until 400).foreach { i =>
      val s = build.writableSession("main")
      s.writeChunk("/a", Seq(i % 128), Array[Byte](i.toByte, 1, 2, 3))
      s.commit(s"c$i")
    }
    // a second array with REAL chunk objects (2 KiB f64 chunks, past the
    // 512 B inline threshold) for the Spark-plane entries below
    locally {
      val s = build.writableSession("main")
      s.addArray("/cube", Seq(64, 64), Seq(16, 16))
      for (ci <- 0 until 4; cj <- 0 until 4) {
        val bb = java.nio.ByteBuffer.allocate(16 * 16 * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 256).foreach(k => bb.putDouble((ci * 1000 + cj * 100 + k).toDouble))
        s.writeChunk("/cube", Seq(ci, cj), bb.array())
      }
      s.commit("cube")
    }

    // ---- measured phase: fresh Repository over latency + counting ----
    val counting = new LoggingStore(new LatencyStore(raw, rttMs), _ => ())
    def measure(name: String)(body: Repository => Unit)(
        implicit repo: Repository): Entry = {
      counting.counts.clear()
      val t0 = System.nanoTime()
      body(repo)
      val e = Entry(name, rttMs, (System.nanoTime() - t0) / 1000000L,
        {
          import scala.jdk.CollectionConverters._
          counting.counts.asScala.map { case (k, v) => k -> v.get() }.toMap
        })
      println("SOAK " + e.render)
      e
    }

    implicit val repo: Repository = {
      counting.counts.clear()
      val t0 = System.nanoTime()
      val r = Repository.open(counting, spark)
      r.info() // force pointer load + full segment hydration
      val e = Entry("open_cold_depth400", rttMs,
        (System.nanoTime() - t0) / 1000000L,
        {
          import scala.jdk.CollectionConverters._
          counting.counts.asScala.map { case (k, v) => k -> v.get() }.toMap
        })
      println("SOAK " + e.render)
      r
    }

    measure("commit_small_x10") { r =>
      (0 until 10).foreach { i =>
        val s = r.writableSession("main")
        s.writeChunk("/a", Seq((i * 13) % 128), Array[Byte](9, 9, 9, 9))
        s.commit(s"soak $i")
      }
    }
    measure("lookup_cold_serial_x20") { r =>
      val ro = r.readonlySession(VersionRef.Branch("main"))
      (0 until 20).foreach(i => ro.getChunkRef("/a", Seq(i * 6 + 1)))
    }
    // fresh session/assets? split cache is per-AssetManager (per repo) —
    // use coords in splits the serial pass did not touch
    measure("lookup_cold_batch_x20") { r =>
      val ro = r.readonlySession(VersionRef.Branch("main"))
      ro.getChunkRefs("/a", (0 until 20).map(i => Seq(i * 6 + 3)))
    }
    measure("lookup_hot_x20") { r =>
      val ro = r.readonlySession(VersionRef.Branch("main"))
      (0 until 20).foreach(i => ro.getChunkRef("/a", Seq(i * 6 + 1)))
    }
    measure("ops_log_full") { r => r.opsLog() }
    measure("fsck_main") { r =>
      graft.ops.Integrity.check(r, "main").count()
    }
    // push: metadata phase through the latency store; since round 14 the
    // executor-side payload copies ALSO pay the RTT (LatencyStoreConf),
    // with in-task width-8 concurrency keeping each task waves-shaped
    measure("push_first") { r =>
      val dst = java.nio.file.Files.createTempDirectory(s"latsoak-dst-$rttMs")
      val dstStore =
        new LatencyStore(Store.local(dst.toString), rttMs)
      graft.ops.Replicate.sync(r, dstStore, "main")
    }
    measure("branch_tag_admin") { r =>
      r.createTag("soak-tag", r.lookupBranch("main").get)
      r.deleteTag("soak-tag")
    }
    measure("expire_keep_tip") { r =>
      graft.ops.GC.expire(r, java.time.Instant.now().plusSeconds(60))
    }
    measure("gc_full") { r =>
      graft.ops.GC.garbageCollect(r,
        java.time.Instant.now().plusSeconds(3600))
    }

    // ---- multi-writer contention (VERDICT r13 item 4): N committers
    // converging through rebase on ONE branch. All must land; wall
    // should sit within a small factor of the serial-RTT lower bound
    // (commits serialize on the CAS, ~9 RTTs each) — a livelock or a
    // quadratic retry storm shows up as serialRTTs >> 80 * 9.
    measure("contend_8writers_x10") { r =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fs = (0 until 8).map { w =>
        Future {
          (0 until 10).foreach { i =>
            val s = r.writableSession("main")
            s.writeChunk("/a", Seq((w * 16 + i) % 128),
              Array[Byte](w.toByte, i.toByte, 0, 0))
            s.commit(s"contend w$w c$i")
          }
        }
      }
      Await.result(Future.sequence(fs), 600.seconds)
      pool.shutdown()
      require(r.ancestry(VersionRef.Branch("main"))
        .count(_.message.startsWith("contend")) == 80, "lost commits")
    }

    // ---- Spark plane (VERDICT r13 item 3): executor reads behind the
    // SAME injected RTT. A graft:// identity routes manifest Parquet
    // scans through the latency store (GraftFileSystem registry), and
    // LatencyStoreConf routes executor chunk-fetch clients opened from
    // StoreConf — so these walls measure parallel WAVES of store reads,
    // not driver chains. Expected shape: wall ≈ (a few FS ops per file /
    // task parallelism + plan overhead) × RTT, flat in ROW count.
    locally {
      val pCounting = new LoggingStore(new LatencyStore(raw, rttMs), _ => ())
      val pStore = new graft.storage.GraftUriStore(pCounting,
        s"latsoak-$rttMs")
      val ps = Repository.open(pStore, spark)
      def measureP(name: String)(body: Repository => Unit): Unit = {
        pCounting.counts.clear()
        val t0 = System.nanoTime()
        body(ps)
        val e = Entry(name, rttMs, (System.nanoTime() - t0) / 1000000L,
          {
            import scala.jdk.CollectionConverters._
            pCounting.counts.asScala.map { case (k, v) => k -> v.get() }.toMap
          })
        println("SOAK " + e.render)
      }
      measureP("spark_scan_refs_filtered") { r =>
        val ro = r.readonlySession(VersionRef.Branch("main"))
        val n = ro.refs("/cube")
          .filter(org.apache.spark.sql.functions.col("c0") === 1).count()
        require(n == 4, s"pruned scan returned $n refs")
      }
      measureP("spark_cube_slice_stats") { r =>
        val ro = r.readonlySession(VersionRef.Branch("main"))
        val row = graft.tensor.TensorPlane.sliceStats(ro, "/cube", "float64",
          Seq((8L, 40L), (8L, 40L))).collect().head
        require(row.getAs[Long]("n") == 32L * 32, "wrong cell count")
      }
    }
    println()
  }
}
