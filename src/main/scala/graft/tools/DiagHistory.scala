package graft.tools

import graft.repo.{Repository, GraftConfig}
import graft.storage.Store

/** History-depth probe (sibling of DiagCube): measures interactive commit
  * latency, session-open latency, and pointer-document size as the commit
  * chain deepens — the one scale axis the data-volume soak tiers cannot
  * see. Prints a line per depth decade. `pruneEvery` > 0 runs the GC's
  * pointer-generation prune on that cadence — the maintenance a real
  * deployment schedules — so the probe separates index growth (bounded
  * by the snapshot-index window) from generation-file accumulation
  * (bounded by GC).
  *
  * `latencyMs` > 0 additionally measures a COLD open (fresh pointer,
  * empty segment cache) through a [[graft.storage.LatencyStore]] at
  * each checkpoint — the round-13 object-store soak axis: with
  * geometric segment merging + concurrent hydration the cold open must
  * stay ~flat (a handful of RTTs) regardless of depth, where the
  * round-12 sequential hydration paid one RTT per spilled segment.
  * Usage: runMain graft.tools.DiagHistory [commits] [dir] [pruneEvery]
  *   [latencyMs]
  */
object DiagHistory {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val dir = if (args.length > 1 && args(1) != "-") args(1)
      else java.nio.file.Files.createTempDirectory("diag-history").toString
    val pruneEvery = if (args.length > 2) args(2).toInt else 0
    val latencyMs = if (args.length > 3) args(3).toLong else 0L
    val spark = LocalSpark.session(4, "WARN")

    val repo = Repository.create(Store.local(dir), spark, GraftConfig())
    locally {
      val s = repo.writableSession("main")
      s.addArray("/a", Seq(1024), Seq(4))
      s.commit("init")
    }
    val checkpoints = Iterator.iterate(10)(_ * 2).takeWhile(_ <= n).toSet + n
    var i = 0
    while (i < n) {
      val t0 = System.nanoTime()
      val s = repo.writableSession("main")
      s.writeChunk("/a", Seq(i % 256), Array[Byte](1, 2, 3))
      s.commit(s"c$i")
      val dtMs = (System.nanoTime() - t0) / 1e6
      i += 1
      if (pruneEvery > 0 && i % pruneEvery == 0)
        repo.pointer.pruneGenerations(keep = 100)
      if (checkpoints(i)) {
        val tOpen = System.nanoTime()
        repo.writableSession("main")
        val openMs = (System.nanoTime() - tOpen) / 1e6
        val ptr = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir, "repo")).iterator()
        var ptrBytes = 0L
        var ptrCount = 0
        while (ptr.hasNext) { ptrBytes = math.max(ptrBytes,
          java.nio.file.Files.size(ptr.next())); ptrCount += 1 }
        val coldInfo =
          if (latencyMs <= 0) ""
          else {
            val tCold = System.nanoTime()
            val cold = Repository.open(
              new graft.storage.LatencyStore(Store.local(dir), latencyMs),
              spark)
            val info = cold.info()
            val coldMs = (System.nanoTime() - tCold) / 1e6
            f" coldOpen@${latencyMs}ms=$coldMs%8.1f ms" +
              f" segs=${info.snapshotSegments.size}%3d"
          }
        System.err.println(f"[diag-history] depth=$i%6d commit=$dtMs%8.1f ms" +
          f" open=$openMs%8.1f ms pointer=$ptrBytes%9d B gens=$ptrCount%6d" +
          coldInfo)
      }
    }
    spark.stop()
  }
}
