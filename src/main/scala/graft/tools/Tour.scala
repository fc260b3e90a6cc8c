package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.ChunkCodec
import graft.ops.{Compaction, GC, Stats}
import graft.repo._
import graft.storage.Store
import graft.tensor.TensorPlane
import graft.zarr.ZarrStore

/** Full-surface tour: Zarr store façade → tensor value plane → maintenance
  * (stats, compaction, expire, GC). `runMain graft.tools.Tour [dir]`.
  */
object Tour {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-tour").toString)
    val spark = LocalSpark.session(4, "ERROR", "spark.app.name" -> "graft-tour")

    // the whole tour runs over a fault-injected store behind the retry
    // decorator: every ~7th metadata op fails transiently and is retried
    val flaky = new graft.storage.FlakyStore(Store.local(dir), failures = 0,
      failOps = Set("getBytes", "putBytes", "list", "exists"))
    val repo = Repository.create(
      new graft.storage.RetryingStore(flaky, baseBackoffMs = 1), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 4))))
    new Thread(() => { // background fault injector
      while (!Thread.currentThread().isInterrupted) {
        Thread.sleep(200); flaky.failures = 1
      }
    }) { setDaemon(true); start() }

    // --- Zarr store façade: a zarr client's view ---
    val zs = new ZarrStore(repo.writableSession("main"))
    zs.set("climate/zarr.json", """{"node_type":"group"}""".getBytes)
    zs.set("climate/temp/zarr.json",
      ("""{"zarr_format":3,"node_type":"array","shape":[16],""" +
        """"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2]}}}""").getBytes)
    for (c <- 0 until 8)
      zs.set(s"climate/temp/c/$c",
        ChunkCodec.encodeLongs(Array(c * 2L, c * 2L + 1), "int64"))
    zs.session.commit("zarr writes")
    println(s"[tour] list_dir(climate)=${zs.listDir("climate")}")
    println(s"[tour] list_prefix(climate/temp) n=${zs.listPrefix("climate/temp").size}")
    println(s"[tour] getsize_prefix=${zs.getSizePrefix("climate/temp")}")

    // --- tensor value plane: SQL over decoded chunks ---
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val values = TensorPlane.values(ro, "/climate/temp", "int64")
    values.createOrReplaceTempView("temp")
    val row = spark.sql(
      "SELECT count(*) n, avg(value) a, max(value) m FROM temp").head()
    println(s"[tour] values n=${row.getLong(0)} avg=${row.getDouble(1)} max=${row.getLong(2)}")

    // --- fragment with appends, then compact ---
    for (i <- 0 until 3) {
      val s = repo.writableSession("main")
      s.writeChunk("/climate/temp", Seq(i),
        ChunkCodec.encodeLongs(Array(100L + i, 200L + i), "int64"))
      s.commit(s"overwrite $i")
    }
    val frag = repo.readonlySession(VersionRef.Branch("main"))
    val nid = frag.node("/climate/temp").get.id
    println(s"[tour] manifests before compaction=" +
      frag.base.manifests(nid).map(_.manifestId).distinct.size)
    Compaction.rewriteManifests(repo, "main")
    val comp = repo.readonlySession(VersionRef.Branch("main"))
    println(s"[tour] manifests after compaction=" +
      comp.base.manifests(nid).map(_.manifestId).distinct.size)
    println(s"[tour] stats=" + Stats.chunkStorageStats(repo,
      repo.lookupBranch("main").get).collect().mkString(","))

    // --- rectilinear grid through the zarr surface ---
    val zs2 = new ZarrStore(repo.writableSession("main"))
    zs2.set("rect/zarr.json",
      ("""{"zarr_format":3,"node_type":"array","shape":[10],""" +
        """"chunk_grid":{"name":"rectilinear","configuration":{"chunk_shapes":[[3,5,2]]}}}""").getBytes)
    zs2.set("rect/c/1", ChunkCodec.encodeLongs(Array(3L, 4, 5, 6, 7), "int64"))
    zs2.session.commit("rectilinear")
    val rv = TensorPlane.values(
      repo.readonlySession(VersionRef.Branch("main")), "/rect", "int64")
    println(s"[tour] rectilinear rows=${rv.count()} " +
      s"i0s=${rv.select("i0").collect().map(_.getLong(0)).sorted.mkString(",")}")

    // --- connector: format("graft") read with pushdown + write ---
    val viaConnector = spark.read.format("graft")
      .option("path", dir).option("array", "/climate/temp")
      .option("mode", "values").option("dtype", "int64").load()
    viaConnector.createOrReplaceTempView("temp_sql")
    val half = spark.sql(
      "SELECT sum(value) FROM temp_sql WHERE i0 >= 8").head().getLong(0)
    println(s"[tour] connector sum(i0>=8)=$half")

    // --- xarray-style append_dim + native stats kernel ---
    val sApp = repo.writableSession("main")
    TensorPlane.appendValues(sApp, "/climate/temp",
      spark.range(4).select(col("id").as("i0"),
        lit(1000.0).cast("double").as("value")), dim = 0, dtype = "int64")
    sApp.commit("append_dim")
    val st = TensorPlane.arrayStats(
      repo.readonlySession(VersionRef.Branch("main")), "/climate/temp",
      "int64").head()
    println(s"[tour] after append: n=${st.getAs[Long]("n")} " +
      s"max=${st.getAs[Double]("max")}")

    // --- DSv2 provider: partition-per-split refs read ---
    val v2 = spark.read.format("graft-v2")
      .option("path", dir).option("array", "/climate/temp").load()
    println(s"[tour] graft-v2 refs=${v2.count()} " +
      s"kinds=${v2.groupBy("kind").count().collect().mkString(",")}")

    // --- native kernels from plain SQL ---
    graft.functions.GraftExtensions.registerAll(spark)
    val sqlDot = spark.sql(
      "SELECT dot_product(array(1.0d,2.0d), array(3.0d,4.0d)) AS d," +
        " simhash64(array(7L,8L)) = simhash64(array(8L,7L)) AS same").head()
    println(s"[tour] sql kernels: dot=${sqlDot.getDouble(0)} " +
      s"simhash order-free=${sqlDot.getBoolean(1)}")

    // --- inspect rollups + change feed ---
    println("[tour] inspect:")
    repo.inspect().orderBy("flushed_at")
      .select("message", "n_arrays", "n_chunk_refs")
      .collect().foreach(r => println(s"[tour]   $r"))
    val tip0 = repo.ancestry(VersionRef.Branch("main"))(1).id
    graft.streaming.ChangesFeed.poll(repo, "main", tip0).foreach {
      case (tip, feed) => println(s"[tour] feed since previous commit: " +
        s"${feed.count()} edits up to $tip")
    }

    // --- empty-commit guard + approx stats ---
    try { repo.writableSession("main").commit("oops") }
    catch { case e: GraftException =>
      println(s"[tour] empty commit refused: ${e.getMessage}") }
    println(s"[tour] approx stats=" + Stats.chunkStorageStatsApprox(repo,
      repo.lookupBranch("main").get).collect().mkString(","))

    // --- expire + GC ---
    val removed = GC.expire(repo, java.time.Instant.now().plusSeconds(5))
    val gc = GC.garbageCollect(repo, java.time.Instant.now().plusSeconds(5))
    println(s"[tour] expired=$removed gc=$gc")
    val after = repo.readonlySession(VersionRef.Branch("main"))
    val check = TensorPlane.values(after, "/climate/temp", "int64")
      .agg(sum("value")).head().getLong(0)
    println(s"[tour] post-gc sum(value)=$check")
    // --- vcc:// virtual refs against a named container ---
    val extDir = java.nio.file.Files.createTempDirectory("graft-ext")
    java.nio.file.Files.write(extDir.resolve("blob.bin"),
      Array.tabulate(32)(_.toByte))
    val vccLog = new graft.storage.LoggingStore(
      Store.local(java.nio.file.Files.createTempDirectory("graft-vcc").toString),
      log = _ => ()) // count ops silently
    val vccRepo = Repository.create(vccLog,
      spark, GraftConfig(), new graft.virt.VirtualChunkResolver(Seq(
        graft.virt.VirtualChunkContainer("file://" + extDir, name = "ext1",
          access = Some(graft.virt.LocalFileSystemAccess)))))
    val vs = vccRepo.writableSession("main")
    vs.addArray("/v", Seq(32), Seq(8))
    vs.setVirtualRef("/v", Seq(0), "vcc://ext1/blob.bin", 0, 8)
    try vs.setVirtualRef("/v", Seq(1), "vcc://unknown/x", 0, 1)
    catch { case e: GraftException =>
      println(s"[tour] vcc rejected at set-time: ${e.getMessage}") }
    vs.commit("vcc")
    val vval = TensorPlane.values(
      vccRepo.readonlySession(VersionRef.Branch("main")), "/v", "int8")
    println(s"[tour] vcc values sum=" +
      vval.agg(sum(col("value"))).head().getLong(0))
    import scala.jdk.CollectionConverters._
    println(s"[tour] store op counts: " + vccLog.counts.asScala.toSeq
      .sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))

    spark.stop()
    println("[tour] OK")
  }
}
