package perfbench

import scala.collection.mutable
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload as a single-client closed
  * loop for a fixed time and prints one JSON result as its last stdout
  * line:
  * {{{
  * perfbench.Main --workload vc_remote --seed 1 --seconds 15 --trace 0 --work DIR
  * }}}
  * `--trace 0` reports the end-to-end metrics; `--trace 1` the per-layer
  * metrics, measured on half the cycles of the same loop, with the
  * untraced half giving the tracing overhead.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val make = Workload.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    Files.createDirectories(work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkUp = (System.currentTimeMillis() - jvmStart) / 1000.0

    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec.sparkListener)
      spark.listenerManager.register(rec.queryListener)
    }
    val runner = new Runner(spark, rec, trace)
    val ctx = new Ctx(spark, seed, runner, rec, trace, cores)
    val wl = make()

    // set-up: build inputs and repo several times, keep the last; then
    // one untimed warm-up cycle of every op type
    val builds = (1 to 3).map { i =>
      val d = work.resolve(s"repo-$i")
      val t0 = System.nanoTime()
      wl.build(ctx, d)
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 1) deleteTree(work.resolve(s"repo-${i - 1}"))
      s
    }
    runner.warm = true
    val w0 = System.nanoTime()
    wl.cycle(ctx, 0, Long.MaxValue)
    val warmS = (System.nanoTime() - w0) / 1e9
    runner.warm = false
    val setupS = sparkUp + Stats.median(builds) + warmS

    val probeDir = Files.createDirectories(work.resolve("probe"))
    val probeStart = Probe.sample(probeDir)
    val gcBefore = Jvm.gcMs()
    val steal0 = Steal.read()

    // the closed loop: runs until time is up, and past it (up to three
    // times the run length) until the measured cycles are complete
    val complete = mutable.ArrayBuffer[Int]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val hardStop = t0 + (3 * seconds * 1e9).toLong
    def unsampled = complete.size < wl.measured
    var k = 1
    while (System.nanoTime() < deadline || (unsampled && System.nanoTime() < hardStop)) {
      runner.cycle = k
      if (trace) {
        // traced and untraced cycles alternate in runs of one period, so
        // every op kind shows on both sides
        rec.on = (k - 1) / wl.period % 2 == 0
        if (rec.on) graft.core.Trace.enable(rec.sink) else graft.core.Trace.disable()
      }
      if (wl.cycle(ctx, k, if (unsampled) hardStop else deadline)) complete += k
      k += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    if (trace) {
      runner.cycle = -1
      rec.on = true
      graft.core.Trace.enable(rec.sink)
      wl.extras(ctx)
    }
    rec.on = false
    graft.core.Trace.disable()
    val loopGc = Jvm.gcMs() - gcBefore
    val steal1 = Steal.read()
    val stealPct = 100.0 * (steal1._1 - steal0._1) / math.max(1L, steal1._2 - steal0._2)
    val probeEnd = Probe.sample(probeDir)
    val extra = wl.finish(ctx)
    System.gc()
    val heapMb = {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }

    val res = runner.results.toSeq
    val attempted = res.size
    val failed = res.count(!_.ok)

    def samples(ops: Seq[OpResult], kind: String) = ops.filter(o => o.ok && o.kind == kind).map(_.ms)
    def med(ops: Seq[OpResult], kind: String) = Stats.median(samples(ops, kind))
    // read_p50_ms: median latency of the read op; batch_p50_ms: one
    // cycle's batch ops priced at their per-kind medians
    def e2e(ops: Seq[OpResult]): mutable.LinkedHashMap[String, Double] =
      mutable.LinkedHashMap("read_p50_ms" -> med(ops, wl.readKind),
        "batch_p50_ms" -> wl.batch.map { case (kd, w) => w * med(ops, kd) }.sum)
    val done = complete.toSet
    val untraced = res.filter(!_.traced)
    val headline = e2e(untraced.filter(_.cycle <= wl.measured))
    val reads = samples(untraced.filter(_.cycle <= wl.measured), wl.readKind)
    val byKind = res.filter(_.ok).groupBy(_.kind).toSeq.sortBy(_._1).map { case (kd, os) =>
      val ms = os.map(_.ms)
      val units = os.map(_.units).sum
      kd -> mutable.LinkedHashMap[String, Any]("n" -> os.size,
        "p50_ms" -> Stats.median(ms), "p90_ms" -> (if (ms.size >= 100) Stats.pct(ms, 0.9) else None),
        "units_per_s" -> (if (units > 0) units / (ms.sum / 1000) else None))
    }
    val diagnostics = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "traced" -> trace, "shape" -> wl.shape, "input_digests" -> {
        import scala.jdk.CollectionConverters._
        ctx.inputDigests.asScala.toSeq.sortBy(_._1).map { case (c, d) => c.toString -> f"${d.longValue}%016x" }
          .to(mutable.LinkedHashMap)
      },
      "setup" -> Map("spark_start_s" -> sparkUp, "builds_s" -> builds, "warmup_s" -> warmS),
      "loop_s" -> loopS, "cycles" -> (k - 1), "complete_cycles" -> complete.size,
      "measured_cycles" -> wl.measured,
      "read_samples" -> reads.size,
      "read_p90_ms" -> (if (reads.size >= 100) Stats.pct(reads, 0.9) else None),
      "failed_ops" -> runner.failures,
      "failed_op_ratio" -> failed.toDouble / math.max(1, attempted),
      "ops" -> byKind.toMap,
      "box" -> Map("probe_start_s" -> probeStart, "probe_end_s" -> probeEnd,
        "probe_end_start_ratio" -> probeEnd / probeStart, "jvm_gc_ms" -> loopGc,
        "cpu_steal_pct" -> stealPct,
        "heap_after_mb" -> heapMb))
    println(Json(Map("diagnostics" -> diagnostics)))

    val metrics: collection.Map[String, Double] =
      if (!trace) mutable.LinkedHashMap("setup_s" -> setupS) ++ headline
      else {
        // tracing overhead: per op kind, the traced cycles' median minus
        // the untraced cycles' median, over kinds both halves sampled
        val traced = e2e(res.filter(_.traced))
        val perKind = (wl.batch.keySet + wl.readKind).toSeq.sorted.map { kd =>
          kd -> (med(res.filter(_.traced), kd) - med(untraced, kd))
        }.filter(!_._2.isNaN).toMap
        val overhead = mutable.LinkedHashMap[String, Any](
          "read_p50_ms" -> perKind.get(wl.readKind),
          "batch_p50_ms" -> wl.batch.collect { case (kd, w) if perKind.contains(kd) => w * perKind(kd) }.sum,
          "batch_kinds_compared" -> wl.batch.keySet.count(perKind.contains),
          "by_kind_ms" -> perKind)
        val layers = Layers.compute(runner.records.toSeq, done, wl, extra) ++ Map(
          "jvm.gc_ms" -> loopGc.toDouble, "jvm.heap_after_mb" -> heapMb,
          "jvm.probe_end_start_ratio" -> probeEnd / probeStart)
        println(Json(Map("trace" -> Layers.detail(name, runner.records.toSeq, overhead, traced))))
        Layers.names.map(n => n -> layers.getOrElse(n, 0.0)).to(mutable.LinkedHashMap)
      }
    val missing = metrics.collect { case (m, v) if v.isNaN => m }
    if (missing.nonEmpty)
      throw new IllegalStateException(s"no samples for ${missing.mkString(", ")}")
    val units = if (trace) Layers.units else EndToEnd.units
    val out = metrics.map { case (m, v) => m -> Map("value" -> v, "unit" -> units(m)) }
    spark.stop()
    deleteTree(work)
    println(Json(mutable.LinkedHashMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> out)))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
    } finally s.close()
  }
}

object EndToEnd {
  val units: Map[String, String] = Map("setup_s" -> "s", "read_p50_ms" -> "ms",
    "batch_p50_ms" -> "ms")
}
