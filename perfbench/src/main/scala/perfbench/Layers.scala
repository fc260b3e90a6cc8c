package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, aggregated from its op records.
  * Counts and times are per completed traced cycle, so runs that fit a
  * different number of cycles in their time compare; ratios are ratios
  * of the run's sums; `ops.*` are per maintenance pass. `tensor.regrid_ms`
  * and `sources.write_ms` come from the extras made once after the loop,
  * per op. A layer the workload does not call reads 0.
  */
object Layers {
  private val meta = Seq("pointer", "segment", "snapshot", "manifest", "txlog")
  private val storeOps = Seq("get", "range_get", "put", "list", "stat", "delete")
  private val commitKinds = Set("commit", "rebase", "append", "ingest", "write")

  val units: Map[String, String] = {
    val u = mutable.LinkedHashMap[String, String]()
    def add(unit: String, names: String*): Unit = names.foreach(u(_) = unit)
    add("count", "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks")
    add("ms", "spark.job_wall_ms", "spark.driver_only_ms", "spark.plan_ms",
      "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms")
    add("bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
      "spark.spill_bytes", "spark.input_bytes")
    add("ms", "time.store_ms", "time.spark_ms", "time.self_ms")
    add("count", "meta.pointer_ops", "meta.segment_gets", "meta.snapshot_gets",
      "meta.snapshot_puts", "meta.manifest_gets", "meta.manifest_puts", "meta.txlog_puts")
    add("bytes", "meta.manifest_get_bytes", "meta.manifest_put_bytes")
    add("ms", "meta.store_ms")
    add("count", "meta.ops_per_commit", "meta.gets_per_lookup")
    add("bytes", "meta.bytes_at_rest_per_ref")
    add("count", "storage.gets", "storage.range_gets", "storage.puts", "storage.lists",
      "storage.stats", "storage.deletes")
    add("bytes", "storage.get_bytes", "storage.put_bytes")
    add("ms", "storage.chunk_store_ms")
    add("count", "storage.serial_rtts_per_op", "storage.cache_hits", "storage.cache_misses")
    add("ratio", "storage.cache_hit_ratio")
    add("count", "storage.cas_lost")
    add("bytes", "storage.proc_read_bytes", "storage.proc_write_bytes")
    add("ratio", "storage.write_amp")
    add("ms", "repo.commit_ms", "repo.flush_ms", "repo.open_ms")
    add("count", "repo.commit_attempts_per_commit")
    add("ms", "vc.merge_ms", "vc.rebase_ms", "vc.merge_driver_self_ms")
    add("ms", "zarr.get_ms", "zarr.set_ms", "zarr.list_ms", "zarr.getsize_ms")
    add("count", "zarr.store_ops_per_get")
    add("ms", "tensor.write_ms", "tensor.scan_ms", "tensor.slice_ms", "tensor.regrid_ms")
    add("ms/MB", "tensor.cpu_ms_per_mb")
    add("ms", "functions.encode_ms")
    add("MB/s", "functions.encode_mb_per_s")
    add("ms", "sources.scan_ms", "sources.write_ms", "sources.plan_ms")
    add("count", "sources.partitions")
    add("ms", "ops.compact_ms", "ops.expire_ms", "ops.gc_ms", "ops.fsck_ms")
    add("bytes", "ops.bytes_rewritten")
    add("count", "ops.objects_deleted")
    add("ms", "pipeline.minhash_ms", "pipeline.lsh_verify_ms", "pipeline.ivf_build_ms",
      "pipeline.ivf_query_ms", "pipeline.neighbors_ms")
    add("count", "pipeline.candidate_pairs")
    add("ratio", "pipeline.candidate_yield", "pipeline.recall")
    add("ms", "jvm.gc_ms")
    add("MB", "jvm.heap_after_mb")
    add("ratio", "jvm.probe_end_start_ratio")
    u.toMap
  }
  val names: Seq[String] = {
    // keep the declaration order above
    val order = Seq("spark.", "time.", "meta.", "storage.", "repo.", "vc.", "zarr.",
      "tensor.", "functions.", "sources.", "ops.", "pipeline.", "jvm.")
    units.keys.toSeq.sortBy(n => (order.indexWhere(n.startsWith), n))
  }

  private def div(a: Double, b: Double) = if (b > 0) a / b else 0.0

  def compute(records: Seq[OpRecord], done: Int => Boolean, wl: Workload,
              extra: Map[String, Double]): Map[String, Double] = {
    // loop ops of completed traced cycles, and the once-per-run extras
    val recs = records.filter(r => r.cycle > 0 && done(r.cycle))
    val once = records.filter(_.cycle < 0)
    val cycles = recs.map(_.cycle).distinct.size.toDouble
    def sumOf(rs: Seq[OpRecord], f: OpRecord => Double) = rs.map(f).sum
    def c(n: String, rs: Seq[OpRecord] = recs) = sumOf(rs, _.counters(n))
    def per(n: String) = div(c(n), cycles)
    def kinds(ks: String*) = recs.filter(r => ks.contains(r.kind))
    def store(op: String, classes: Seq[String], rs: Seq[OpRecord] = recs) =
      classes.map(k => c(s"store.$op.$k", rs)).sum
    val splits = recs.map(r => r -> r.breakdown).toMap
    def split(n: String, rs: Seq[OpRecord] = recs) =
      rs.map(r => splits(r).filter(_._1.startsWith(n)).values.sum).sum
    val all = KeyClass.all
    val delayMs = wl.parts.collectFirst { case r: RemoteServing => r.delayMs.toDouble }.getOrElse(0.0)
    val remoteKinds = wl.parts.collect { case r: RemoteServing => r.kinds }.flatten.toSet
    val m = mutable.HashMap[String, Double]()
    Seq("jobs", "stages", "tasks", "failed_tasks", "job_wall_ms", "plan_ms",
      "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "input_bytes").foreach { n =>
      m(s"spark.$n") = per(s"spark.$n")
    }
    m("spark.driver_only_ms") = div(split("store_ms") + split("self_ms"), cycles)
    m("time.store_ms") = div(split("store_ms"), cycles)
    m("time.spark_ms") = div(split("spark_ms"), cycles)
    m("time.self_ms") = div(split("self_ms"), cycles)

    m("meta.pointer_ops") = div(storeOps.map(o => c(s"store.$o.pointer")).sum, cycles)
    m("meta.segment_gets") = div(store("get", Seq("segment")), cycles)
    m("meta.snapshot_gets") = div(store("get", Seq("snapshot")), cycles)
    m("meta.snapshot_puts") = div(store("put", Seq("snapshot")), cycles)
    m("meta.manifest_gets") = div(store("get", Seq("manifest")) + store("range_get", Seq("manifest")), cycles)
    m("meta.manifest_get_bytes") = div(c("store.get_bytes.manifest") + c("store.range_get_bytes.manifest"), cycles)
    m("meta.manifest_puts") = div(store("put", Seq("manifest")), cycles)
    m("meta.manifest_put_bytes") = div(c("store.put_bytes.manifest"), cycles)
    m("meta.txlog_puts") = div(store("put", Seq("txlog")), cycles)
    m("meta.store_ms") = div(meta.map(k => split(s"store_ms.$k")).sum, cycles)
    val commits = recs.filter(r => commitKinds(r.kind))
    m("meta.ops_per_commit") = div(storeOps.map(o => store(o, meta, commits)).sum, commits.size)
    val lookups = kinds("lookup")
    m("meta.gets_per_lookup") =
      div(store("get", meta, lookups) + store("range_get", meta, lookups), lookups.size)

    m("storage.gets") = div(store("get", all), cycles)
    m("storage.range_gets") = div(store("range_get", all), cycles)
    m("storage.puts") = div(store("put", all), cycles)
    m("storage.lists") = div(store("list", all), cycles)
    m("storage.stats") = div(store("stat", all), cycles)
    m("storage.deletes") = div(store("delete", all), cycles)
    m("storage.get_bytes") = div(all.map(k => c(s"store.get_bytes.$k") + c(s"store.range_get_bytes.$k")).sum, cycles)
    m("storage.put_bytes") = div(all.map(k => c(s"store.put_bytes.$k")).sum, cycles)
    m("storage.chunk_store_ms") = div(split("store_ms.chunk"), cycles)
    // only the ops of the workload behind the injected delay
    val remote = recs.filter(r => remoteKinds(r.kind))
    m("storage.serial_rtts_per_op") =
      if (delayMs > 0) div(split("store_ms", remote), delayMs * remote.size) else 0.0
    m("storage.cache_hits") = per("cache.hits")
    m("storage.cache_misses") = per("cache.misses")
    m("storage.cache_hit_ratio") = div(c("cache.hits"), c("cache.hits") + c("cache.misses"))
    m("storage.cas_lost") = per("store.cas_lost")
    m("storage.proc_read_bytes") = per("proc.read_bytes")
    m("storage.proc_write_bytes") = per("proc.write_bytes")
    val written = kinds("write")
    m("storage.write_amp") = div(c("proc.write_bytes", written), c("functions.encode_bytes", written))

    m("repo.commit_ms") = per("span.commit_ms")
    m("repo.flush_ms") = per("span.flush_ms")
    m("repo.open_ms") = per("span.layer.repo.open_ms")
    m("repo.commit_attempts_per_commit") = div(store("put", Seq("pointer")), c("span.commit_n"))
    m("vc.merge_ms") = per("span.merge_ms")
    m("vc.rebase_ms") = div(kinds("rebase").map(_.wallMs).sum, cycles)
    m("vc.merge_driver_self_ms") = div(split("self_ms", kinds("merge")), cycles)

    m("zarr.get_ms") = per("span.layer.zarr.get_ms")
    m("zarr.set_ms") = per("span.layer.zarr.set_ms")
    m("zarr.list_ms") = per("span.layer.zarr.list_ms")
    m("zarr.getsize_ms") = per("span.layer.zarr.getsize_ms")
    val gets = kinds("zarr_get")
    m("zarr.store_ops_per_get") = div(storeOps.map(o => store(o, all, gets)).sum,
      gets.size * wl.parts.collectFirst { case r: RemoteServing => r.keysPerRead }.getOrElse(1))

    m("tensor.write_ms") = div(kinds("write").map(_.wallMs).sum, cycles)
    m("tensor.scan_ms") = per("span.layer.tensor.scan_ms")
    m("tensor.slice_ms") = per("span.layer.tensor.slice_ms")
    val regrids = once.filter(r => Set("rechunk", "transpose", "downsample", "combine")(r.kind))
    m("tensor.regrid_ms") = div(c("span.layer.tensor.regrid_ms", regrids), regrids.size)
    val tensorOps = kinds("scan")
    m("tensor.cpu_ms_per_mb") = div(c("spark.executor_cpu_ms", tensorOps),
      wl.parts.collectFirst { case t: TensorValues => t.cubeMb }.getOrElse(0.0) *
        tensorOps.count(_.kind == "scan"))
    m("functions.encode_ms") = per("span.layer.functions.encode_ms")
    m("functions.encode_mb_per_s") =
      div(c("functions.encode_bytes") / 1048576.0, c("span.layer.functions.encode_ms") / 1000.0)
    m("sources.scan_ms") = per("span.layer.sources.scan_ms")
    val writes = once.filter(_.kind.startsWith("dsv2_write"))
    m("sources.write_ms") = div(c("span.layer.sources.write_ms", writes), writes.size)
    m("sources.plan_ms") = per("span.scan.plan_ms")
    m("sources.partitions") = per("span.scan.plan.partitions")

    val passes = kinds("maintenance")
    def perPass(n: String) = div(c(n, passes), passes.size)
    m("ops.compact_ms") = perPass("span.layer.ops.compact_ms")
    m("ops.expire_ms") = perPass("span.layer.ops.expire_ms")
    m("ops.gc_ms") = perPass("span.layer.ops.gc_ms")
    m("ops.fsck_ms") = perPass("span.layer.ops.fsck_ms")
    m("ops.bytes_rewritten") = perPass("ops.bytes_rewritten")
    m("ops.objects_deleted") = perPass("ops.objects_deleted")

    m("pipeline.minhash_ms") = per("span.layer.pipeline.minhash_ms")
    m("pipeline.lsh_verify_ms") = per("span.layer.pipeline.lsh_verify_ms")
    m("pipeline.ivf_build_ms") = per("span.layer.pipeline.ivf_build_ms")
    m("pipeline.ivf_query_ms") = per("span.layer.pipeline.ivf_query_ms")
    m("pipeline.neighbors_ms") = per("span.layer.pipeline.neighbors_ms")
    m("pipeline.candidate_pairs") = per("pipeline.candidate_pairs")
    m("pipeline.candidate_yield") = div(c("pipeline.verified_pairs"), c("pipeline.candidate_pairs"))
    m("pipeline.recall") = div(c("pipeline.dedup_recall"), kinds("lsh_verify").size)
    (m ++ extra).toMap
  }


  /** The trace detail: per op kind, the wall-time split and the counters;
    * per op, the counters a rerun with the same seed must reproduce.
    */
  def detail(workload: String, recs: Seq[OpRecord], overhead: collection.Map[String, Any],
             traced: collection.Map[String, Double]): Map[String, Any] = {
    val byKind = recs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      val split = mutable.TreeMap[String, Double]()
      rs.foreach(_.breakdown.foreach { case (n, v) => split(n) = split.getOrElse(n, 0.0) + v })
      val counters = mutable.TreeMap[String, Double]()
      rs.foreach(_.counters.foreach { case (n, v) => counters(n) = counters.getOrElse(n, 0.0) + v })
      k -> Map("n" -> rs.size, "wall_ms" -> rs.map(_.wallMs).sum,
        "p50_ms" -> Stats.median(rs.map(_.wallMs)), "split_ms" -> split,
        "counters" -> counters)
    }.toMap
    val ops = recs.map { r =>
      Map("kind" -> r.kind, "cycle" -> r.cycle, "ok" -> r.ok,
        "counters" -> r.counters.filter { case (n, _) => deterministic(n) }.to(mutable.TreeMap))
    }
    Map("workload" -> workload, "by_kind" -> byKind, "ops" -> ops,
      "traced_e2e" -> traced, "overhead" -> overhead)
  }

  /** Counters that depend only on the inputs, the code and the history
    * before the op, not on timing: counts, and store bytes. Bytes vary by
    * a few per object, since the engine writes timestamps and random ids.
    * Chunk gets are left out: concurrent batch reads race on the shared
    * chunk cache, so which of them hit varies.
    */
  def deterministic(n: String): Boolean =
    n == "spark.jobs" || n == "spark.stages" ||
      (n.startsWith("store.") && !n.matches("store\\.(range_)?get(_bytes)?\\.chunk")) ||
      n == "pipeline.candidate_pairs" || n == "pipeline.verified_pairs" ||
      (n.startsWith("span.") && n.endsWith("_n"))
}
