package graft.tools

import org.apache.spark.sql.SparkSession
import graft.functions.ChunkCodec
import graft.repo._
import graft.storage.Store

/** Writes the format-stability golden fixture: a small repository
  * exercising every on-disk artifact family (repo pointer + overwritten
  * chain, snapshots, split manifests, transaction logs, inline refs,
  * chunk objects past the 512 B inline threshold, rectilinear grid
  * metadata, tag + second branch, snapshot properties). The produced
  * BYTES get committed under `src/test/resources/` once per format
  * epoch; FormatStabilitySpec must open and fully read them at every
  * future HEAD (the reference ships the same promise as
  * `test_can_read_old.py` over `spec_version_cases`,
  * icechunk/src/lib.rs:84-92 — a format change that cannot read last
  * epoch's bytes is a breaking change and must say so).
  *
  * Deterministic by construction in CONTENT (ids and timestamps vary per
  * run; the spec asserts semantics, never ids).
  */
object MakeGoldenFixture {
  def main(args: Array[String]): Unit = {
    // Accepted forms: `<dir>` (local-FS fixture) or `--s3 <dumpDir>`
    // (S3-protocol object dump). The flag is positional-first; a trailing
    // `--s3` after <dir> is rejected loudly rather than silently ignored.
    val (s3Mode, outDir) = args.toList match {
      case "--s3" :: d :: Nil => (true, d)
      case d :: Nil if !d.startsWith("--") => (false, d)
      case _ => sys.error("usage: MakeGoldenFixture <dir> | --s3 <dumpDir>")
    }
    val spark = LocalSpark.session(4, "INFO",
      "spark.app.name" -> "graft-golden", "spark.sql.shuffle.partitions" -> 8)
    if (s3Mode) buildS3Dump(spark, outDir) else build(spark, outDir)
    println(s"[golden] fixture written to $outDir")
    spark.stop()
  }

  def build(spark: SparkSession, dir: String): Unit =
    buildOn(spark, Store.local(dir))

  /** The same repository written through the S3 PROTOCOL (in-process
    * server), its objects dumped key-for-key to `dumpDir` — pins the
    * object-store KEY layout (#2239 regression class), which the
    * local-FS fixture cannot: prefix joining, partition-style manifest
    * keys, and the repo pointer chain as S3 keys.
    */
  def buildS3Dump(spark: SparkSession, dumpDir: String): Unit = {
    val server = new graft.storage.s3.S3MemServer
    try {
      server.createBucket("golden")
      val conf = graft.storage.S3StoreConf(server.endpoint, "us-east-1",
        "golden", "repos/g", "ak", "sk")
      buildOn(spark, conf.open())
      // dump every object (whole bucket, no prefix) as a file at its key
      val all = graft.storage.S3StoreConf(server.endpoint, "us-east-1",
        "golden", "", "ak", "sk").open()
      val root = java.nio.file.Paths.get(dumpDir)
      all.list("").foreach { o =>
        val dst = root.resolve(o.key)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.write(dst, all.getBytes(o.key))
      }
    } finally server.stop()
  }

  def buildOn(spark: SparkSession, store: Store): Unit = {
    val repo = Repository.create(store, spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 2))))

    // ---- commit 1: hierarchy + regular array, inline and ref chunks
    val s1 = repo.writableSession("main")
    s1.addGroup("/climate", """{"title":"golden"}""")
    s1.addArray("/climate/temp", Seq(8L, 6L), Seq(4L, 3L),
      dimNames = Seq("y", "x"), userData = """{"dtype":"int64"}""")
    // four chunks; values = global row-major index i0*6+i1.
    // chunk (1,1) is written LARGE-ish via float64 padding? no — keep
    // int64; 4x3 cells = 96 B (inline). To exercise a chunk OBJECT, use
    // a dedicated 1-D array below with >512 B payload.
    for (c0 <- 0 until 2; c1 <- 0 until 2) {
      val vals = (for (r <- 0 until 4; c <- 0 until 3)
        yield (c0 * 4 + r) * 6L + (c1 * 3 + c)).toArray
      s1.writeChunk("/climate/temp", Seq(c0, c1),
        ChunkCodec.encodeLongs(vals, "int64"))
    }
    s1.addArray("/climate/series", Seq(200L), Seq(100L),
      userData = """{"dtype":"int64"}""")
    for (c <- 0 until 2) // 100 * 8 B = 800 B > 512 B inline threshold
      s1.writeChunk("/climate/series", Seq(c),
        ChunkCodec.encodeLongs(
          Array.tabulate(100)(i => c * 100L + i), "int64"))
    val c1id = s1.commit("golden: initial data",
      properties = Map("epoch" -> "r9", "author" -> "fixture"))
    repo.createTag("v1", c1id)

    // ---- commit 2 on main: overwrite one chunk + rectilinear array
    val s2 = repo.writableSession("main")
    s2.writeChunk("/climate/temp", Seq(0, 0),
      ChunkCodec.encodeLongs(
        (for (r <- 0 until 4; c <- 0 until 3)
          yield 1000L + r * 3 + c).toArray, "int64"))
    s2.addArrayRectilinear("/climate/rect", Seq(10L),
      Seq(Seq(3L, 5L, 2L)), userData = """{"dtype":"int64"}""")
    s2.writeChunk("/climate/rect", Seq(0),
      ChunkCodec.encodeLongs(Array(0L, 1, 2), "int64"))
    s2.writeChunk("/climate/rect", Seq(1),
      ChunkCodec.encodeLongs(Array(3L, 4, 5, 6, 7), "int64"))
    s2.writeChunk("/climate/rect", Seq(2),
      ChunkCodec.encodeLongs(Array(8L, 9), "int64"))
    s2.commit("golden: overwrite + rectilinear")

    // ---- side branch with its own commit (branch refs + extra txlog)
    repo.createBranch("feature", c1id)
    val s3 = repo.writableSession("feature")
    s3.writeChunk("/climate/temp", Seq(1, 1),
      ChunkCodec.encodeLongs(Array.fill(12)(-7L), "int64"))
    s3.commit("golden: feature edit")
  }
}
