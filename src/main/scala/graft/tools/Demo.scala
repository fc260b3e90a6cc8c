package graft.tools

import graft.repo._
import graft.storage.Store

/** End-to-end smoke CLI over the public API (the reference ships a CLI too,
  * icechunk/src/cli/interface.rs). Usage: `runMain graft.tools.Demo [dir]`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = LocalSpark.session(4, "ERROR", "spark.app.name" -> "graft-demo")

    val repo = Repository.openOrCreate(Store.local(dir), spark)
    println(s"[demo] repo at $dir branches=${repo.listBranches()}")

    val s = repo.writableSession("main")
    s.addGroup("/climate")
    s.addArray("/climate/temp", shape = Seq(128, 64, 64),
      chunkShape = Seq(32, 64, 64), dimNames = Seq("t", "y", "x"),
      userData = """{"dtype":"int8"}""")
    for (i <- 0 until 4)
      s.writeChunk("/climate/temp", Seq(i, 0, 0),
        Array.tabulate(64)(j => (i * 64 + j).toByte))
    val c1 = s.commit("initial data")
    println(s"[demo] commit1=$c1")

    repo.createTag("v1", c1)
    val s2 = repo.writableSession("main")
    s2.writeChunk("/climate/temp", Seq(0, 0, 0), Array.fill(64)(9.toByte))
    val c2 = s2.commit("overwrite chunk 0")
    println(s"[demo] commit2=$c2")

    // amend: replace commit2 with a version that also fixes chunk 1
    val s3 = repo.writableSession("main")
    s3.writeChunk("/climate/temp", Seq(1, 0, 0), Array.fill(64)(8.toByte))
    val c2b = s3.commit("overwrite chunk 0 (amended)", amend = true)
    println(s"[demo] amended=$c2b history=" +
      repo.ancestry(VersionRef.Branch("main")).map(_.message))

    val now = repo.readonlySession(VersionRef.Branch("main"))
    val v1 = repo.readonlySession(VersionRef.Tag("v1"))
    println(s"[demo] refs now=${now.refs("/climate/temp").count()} " +
      s"v1=${v1.refs("/climate/temp").count()}")
    println(s"[demo] chunk(0) now=${now.getChunk("/climate/temp", Seq(0, 0, 0)).get.head} " +
      s"v1=${v1.getChunk("/climate/temp", Seq(0, 0, 0)).get.head}")
    println(s"[demo] ancestry=${repo.ancestry(VersionRef.Branch("main")).map(_.message)}")
    val d = repo.diff(VersionRef.Tag("v1"), VersionRef.Branch("main"))
    println(s"[demo] diff v1..main chunk edits=" +
      d.filter(org.apache.spark.sql.functions.col("edit") === "chunk").count())
    println(s"[demo] ops=${repo.opsLog(5).map(_.op)}")

    // regrid the array (distributed block copies; only coords shuffle)
    val s4 = repo.writableSession("main")
    graft.tensor.TensorPlane.rechunk(s4, "/climate/temp",
      Seq(64, 64, 64), "int8")
    s4.commit("rechunk to 64x64x64")
    val regridded = repo.readonlySession(VersionRef.Branch("main"))
    println(s"[demo] rechunked refs=" +
      regridded.refs("/climate/temp").count() +
      s" grid=${regridded.node("/climate/temp").get.chunkShape.mkString("x")}")

    // publish the current version as plain zarr v3, then adopt it back
    // into a fresh repo with zero-copy virtual refs
    val pubDir = java.nio.file.Files.createTempDirectory("demo-pub")
    val nChunks = graft.ops.ZarrExport.exportStore(regridded,
      Store.local(pubDir.toString))
    val repo2 = Repository.create(
      Store.local(java.nio.file.Files.createTempDirectory("demo-adopt")
        .toString), spark)
    graft.ops.ZarrImport.importStore(repo2, "main",
      Store.local(pubDir.toString))
    println(s"[demo] zarr publish chunks=$nChunks adopted refs=" +
      repo2.readonlySession(VersionRef.Branch("main"))
        .refs("/climate/temp").count())

    // push main (full history closure) to a second store; re-push is a
    // no-op delta
    val mirror = Store.local(java.nio.file.Files
      .createTempDirectory("demo-mirror").toString)
    val push1 = graft.ops.Replicate.sync(repo, mirror, "main")
    val push2 = graft.ops.Replicate.sync(repo, mirror, "main")
    val mirrored = Repository.open(mirror, spark)
      .readonlySession(VersionRef.Branch("main"))
    println(s"[demo] pushed snapshots=${push1.snapshotsCopied} " +
      s"chunks=${push1.chunksCopied} repush_chunks=${push2.chunksCopied} " +
      s"mirror_chunk0=${mirrored.getChunk("/climate/temp", Seq(0, 0, 0)).get.head}")
    spark.stop()
    println("[demo] OK")
  }
}
