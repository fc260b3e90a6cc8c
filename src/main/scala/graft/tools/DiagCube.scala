package graft.tools

import org.apache.spark.sql.functions._
import graft.repo.{Repository, VersionRef, GraftConfig}
import graft.storage.Store

/** I/O-vs-compute probe for whole-array reads: writes an int64 cube
  * once, then times refs-scan,
  * fetch-only (bytes moved, no decode), full arrayStats, and a
  * single-threaded raw read of the chunk files. Separates "the decode
  * kernel is slow" from "the box's disk is the wall" — the round-12 scale
  * soak used it to classify engine_cube_read's 8x exponent as disk
  * bandwidth (fetch-only ~= raw single-thread read ~= 400 MB/s on the
  * soak box), not a plan defect (warm arrayStats decodes at >1.4 GB/s).
  * Usage: runMain graft.tools.DiagCube [cube] [dir]
  */
object DiagCube {
  def main(args: Array[String]): Unit = {
    val cube = args.headOption.map(_.toInt).getOrElse(1024)
    val dir = if (args.length > 1) args(1) else s"/tmp/diag-cube-$cube"
    val spark = LocalSpark.session(32, "WARN")

    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[diag] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val fresh = !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "repo"))
    val repo =
      if (fresh) Repository.create(Store.local(dir), spark, GraftConfig())
      else Repository.open(Store.local(dir), spark)
    if (fresh) t("write cube") {
      val s = repo.writableSession("main")
      s.addArray("/cube", Seq(cube, cube, cube), Seq(4, cube, cube),
        Seq("t", "y", "x"), userData = """{"dtype":"int64"}""")
      val chunkElems = 4 * cube * cube
      for (c <- 0 until cube / 4) {
        val vals = Array.tabulate(chunkElems)(i =>
          ((c.toLong * chunkElems + i) % 1000) - 500)
        s.writeChunk("/cube", Seq(c, 0, 0),
          graft.functions.ChunkCodec.encodeLongs(vals, "int64"))
      }
      s.commit("cube")
    }

    val ro = repo.readonlySession(VersionRef.Branch("main"))
    t("refs count")(ro.refs("/cube").count())

    // fetch only: bytes fetched and length-summed, no decode
    val fetch = graft.tensor.TensorPlane.fetchBytesUdf(repo.store.conf,
      repo.virtualResolver)
    (0 until 2).foreach { i =>
      t(s"fetch-only pass $i") {
        val total = ro.refs("/cube")
          .repartition(64, col("coord"))
          .withColumn("bytes", fetch(col("kind"), col("inline"),
            col("chunk_id"), col("location"), col("offset"), col("length")))
          .agg(sum(length(col("bytes")))).head().getLong(0)
        assert(total == cube.toLong * cube * cube * 8)
      }
    }
    (0 until 2).foreach { i =>
      t(s"arrayStats pass $i") {
        val st = graft.tensor.TensorPlane.arrayStats(ro, "/cube", "int64").head()
        assert(st.getAs[Long]("n") == cube.toLong * cube * cube)
      }
    }
    // single-threaded raw read throughput of the chunk files
    t("raw driver read") {
      val chunksDir = java.nio.file.Paths.get(dir, "chunks")
      var n = 0L
      val st = java.nio.file.Files.list(chunksDir)
      try st.forEach(p => n += java.nio.file.Files.readAllBytes(p).length)
      finally st.close()
      System.err.println(s"[diag] raw bytes = $n")
    }
    spark.stop()
  }
}
