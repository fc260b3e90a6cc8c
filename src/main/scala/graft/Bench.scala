package graft

import org.apache.spark.sql.functions._
import graft.repo._
import graft.storage.Store

/** Bench main: the operator queries at SPARK_GRAFT_SF_DIR plus the engine
  * workloads pinned in BASELINE.md (starred rows): bulk chunk-ref ingest
  * (set_chunks → manifest write), split-manifest commit, the one-shard
  * append, and the read paths (refs scan, extent-pruned point lookups,
  * getsize_prefix). Emits one JSON line.
  *
  * Measurement hygiene (a number nobody can defend is worse than no
  * number): entry order is fixed (queries in [[Queries.all]] insertion
  * order, then engine workloads), every query entry is followed by
  * `Dedup.releaseCaches()` + `clearCache()` + `ChunkCache.clear()` so no
  * entry inherits the previous entry's block-manager state, and the engine
  * section runs SPARK_GRAFT_BENCH_REPS (default 3) times in fresh repos
  * with the per-entry median reported — the box's I/O throughput varies
  * run-to-run and a single sample cannot separate code from weather.
  *
  * Weather calibration (round 11): a fixed-work probe ([[calibSample]])
  * brackets every pass; the line carries its median as `engine_calib`
  * and every raw per-entry per-pass sample goes to the `bench_raws.json`
  * sidecar the line's `raws` field names. Drift triage starts from the
  * entry/calib RATIO and the raw spread (docs/benchmarking.md), not from
  * a single official sample — BENCH_r10's three phantom >1.6×
  * "regressions" each cost a full A/B forensic that this machinery
  * makes unnecessary.
  */
object Bench {
  /** The query entries the bench LINE times. The driver's tail capture
    * is exactly 2000 chars (BENCH_r*.json `tail`), and ~100 full-name
    * entries overflow it no matter how tight the number format — a
    * truncated line start is how rounds 1-6 lost their parsed timings.
    * So the line times every engine entry plus the HEADLINE queries
    * (every heavy or scale-critical shape); the remaining sub-second
    * report queries are exercised — and correctness-checked — by the
    * Verify gate each round. BenchJsonSpec guards the worst-case width
    * of the full real key set against the 2000-char budget.
    */
  val HeadlineQueries: Set[String] = Set(
    "q1_agg", "q_storage_stats", "q_filter_pushdown", "q_changeset_merge",
    "q_conflict_semijoin", "q_gc_antijoin", "q_diff_join", "q_setops",
    "q_zarr_keys", "q_stream_window", "q_dedup_exact", "q_dedup_clusters",
    "q_temperature_mix", "q_dedup_ngram_jaccard", "q_dedup_ngram_lsh",
    "q_decontaminate", "q_decontaminate_bloom", "q_dedup_minhash",
    "q_dedup_simhash", "q_embedding_neardups", "q_embedding_clusters",
    "q_similarity_ivf", "q_ann_neighbors", "q_pack_sequences", "q_rechunk",
    "q_transpose", "q_concat",
    // q_histogram / q_value_diff left the LINE in round 11 (2000-char
    // budget, displaced by engine_calib + the raws reference): their
    // 1 GiB-scale perf shapes ride engine_downsample_1g /
    // engine_values_diff in the same line, and Verify still
    // correctness-gates both queries every round
    // q_band_join left the LINE in round 13 (its ~chars fund the
    // engine_io_w_mbps disk probe): a 12-row broadcast band join whose
    // perf shape q_asof_join/q_salted_join still cover; Verify still
    // correctness-gates it every round
    "q_downsample", "q_substring_spans", "q_lm_score", "q_asof_join",
    "q_salted_join", "q_winnow", "q_bm25")

  /** Fixed-work box-weather probe (BENCH_r10 forensics: three phantom
    * >1.6× "regressions" were slow-box windows, not code — each cost an
    * A/B worktree forensic to clear). One sample runs a DETERMINISTIC
    * ~1 s-class microtask touching the three resources whose weather has
    * historically moved entries: CPU (FNV-1a over 2²⁶ longs), allocation
    * (8 × 32 MB arrays touched per page — the rechunk-style GC profile),
    * and file I/O (128 MB written + read back under `tmp`). Timed at the
    * START and END of every bench pass; the JSON line carries the median
    * as `engine_calib` and the sidecar keeps every raw sample, so a
    * drifted entry is judged by its entry/calib RATIO, not its absolute
    * seconds.
    */
  private[graft] def calibSample(tmp: java.nio.file.Path): Double = {
    val t0 = System.nanoTime()
    // CPU: FNV-1a fold over 2^26 sequential longs
    var h = 0xcbf29ce484222325L
    var i = 0L
    while (i < (1L << 26)) { h ^= i; h *= 0x100000001b3L; i += 1 }
    var acc = h
    // allocation + page-touch: 8 × 32 MB (forces real pages, real GC)
    var a = 0
    while (a < 8) {
      val buf = new Array[Byte](32 << 20)
      var j = 0
      while (j < buf.length) { buf(j) = (acc + j).toByte; j += 4096 }
      acc += buf(buf.length - 1)
      a += 1
    }
    // I/O: 128 MB out, 128 MB back (page-cache weather included — that
    // IS part of what moves the heavy write entries)
    val f = tmp.resolve(s"graft-calib-${java.util.UUID.randomUUID()}.bin")
    val block = new Array[Byte](8 << 20)
    java.util.Arrays.fill(block, 0x5a.toByte)
    val out = java.nio.file.Files.newOutputStream(f)
    try { var k = 0; while (k < 16) { out.write(block); k += 1 } }
    finally out.close()
    val in = java.nio.file.Files.newInputStream(f)
    try {
      var n = in.read(block)
      while (n >= 0) { acc += block(0); n = in.read(block) }
    } finally { in.close(); java.nio.file.Files.delete(f) }
    // data-dependent side effect so the JIT cannot elide the work
    if (acc == 0x6b617270L) System.err.println("[bench] calib sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  /** Raw disk-write probe (round 13, VERDICT item 5): 256 MB written and
    * fsync'd single-threaded, reported as MB/s. This is the box-weather
    * number the round-12 forensics had to reconstruct from DiagCube
    * after the fact (engine_repo_push's ±70 % swings tracked the box's
    * raw disk bandwidth, not any plan change); carrying it ON the line
    * as `engine_io_w_mbps` lets the next round's driver comparison read
    * its own I/O context instead of re-running a forensic. fsync makes
    * the number disk-bound, not page-cache-bound — a cached read probe
    * on a 128 GiB box measures memcpy.
    */
  private[graft] def ioProbe(tmp: java.nio.file.Path): Double = {
    val f = tmp.resolve(s"graft-io-${java.util.UUID.randomUUID()}.bin")
    val block = new Array[Byte](8 << 20)
    java.util.Arrays.fill(block, 0x33.toByte)
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      var k = 0
      while (k < 32) { ch.write(java.nio.ByteBuffer.wrap(block)); k += 1 }
      ch.force(false)
    } finally { ch.close(); java.nio.file.Files.delete(f) }
    256.0 / ((System.nanoTime() - t0) / 1e9)
  }

  /** Raw-sample sidecar: the 2000-char stdout tail cannot hold per-pass
    * raws, so the line carries only the calib median and this file's
    * path; the sidecar holds EVERY per-entry per-pass sample plus every
    * calibration sample, in pass order. A drift question starts here
    * (docs/benchmarking.md), not with a re-run.
    */
  private[graft] def rawsJson(sfDir: String,
      calib: Seq[(String, Double)],
      passes: Seq[(String, collection.Map[String, Double])]): String = {
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val samples = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[(String, Double)]]()
    passes.foreach { case (pass, r) =>
      r.foreach { case (k, v) =>
        samples.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer()) += ((pass, v))
      }
    }
    val calibJson = calib.map { case (tag, v) =>
      s"[${jstr(tag)},${jnum(v)}]" }.mkString("[", ",", "]")
    val samplesJson = samples.map { case (k, vs) =>
      jstr(k) + ":" + vs.map { case (p, v) =>
        s"[${jstr(p)},${jnum(v)}]" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-entry FLOOR (min successful sample): the plan-shaped number —
    // medians carry cross-round continuity, floors are immune to the
    // box's I/O weather spikes (VERDICT r13 item 5: two rounds of drift
    // triage read their answer out of the raw minima)
    val minsJson = samples.flatMap { case (k, vs) =>
      val ok = vs.map(_._2).filter(_ > 0)
      if (ok.isEmpty) None else Some(jstr(k) + ":" + jnum(ok.min))
    }.mkString("{", ",", "}")
    s"""{"sf":${jstr(sfDir)},"calib":$calibJson,"mins":$minsJson,"samples":$samplesJson}"""
  }

  /** Time one entry; a failure records a NEGATIVE wall time and appends
    * `name: ExceptionClass: message` to `errors`, so in the JSON line a
    * crashed entry can never masquerade as a fast success.
    */
  private[graft] def timedEntry[A](
      name: String, errors: scala.collection.mutable.Buffer[String])(
      body: => A): Double = {
    val t0 = System.nanoTime()
    // a failed entry must not take the JSON line down with it, but it
    // must not fail silently either
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch { case t: Throwable =>
      System.err.println(s"[bench] entry $name failed: $t")
      errors += s"$name: ${t.getClass.getSimpleName}: " +
        Option(t.getMessage).getOrElse("").take(160)
      -((System.nanoTime() - t0) / 1e9)
    }
  }

  /** Compact JSON number: 3 significant digits, at most 4 decimal
    * places, trailing zeros trimmed. Full-precision nanos in ~65 entries
    * pushed the round-6 line past the driver's tail-capture window,
    * which truncated the line's START and made it unparseable; at ~100
    * entries even 4 sig figs crept back over the budget (2568 B), so
    * the format is now 3 sig figs with sub-ms entries clamped to 4
    * decimals — BenchJsonSpec guards the full real-key-set line against
    * worst-case-width values.
    */
  private[graft] def jnum(v: Double): String = {
    // clamp precision below 1e-4 first so "%.3g" can't emit exponents
    // like 5.64e-04 (shorter AND json-simpler as 0.0006)
    val clamped = math.rint(v * 10000.0) / 10000.0
    val s = String.format(java.util.Locale.ROOT, "%.3g", Double.box(clamped))
    if (s.indexOf('e') >= 0 || s.indexOf('E') >= 0 || s.indexOf('.') < 0) s
    else {
      val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      if (t.isEmpty || t == "-") "0" else t
    }
  }

  /** The one-line JSON contract the driver parses: entry seconds plus an
    * explicit `errors` array (failed entries also carry negative times).
    * MUST stay the last line of stdout (build.sbt suppresses sbt's
    * "[success]" trailer) and short enough for a ~2.5 KB tail capture.
    */
  private[graft] def jsonLine(results: collection.Map[String, Double],
                              errors: collection.Seq[String],
                              sfDir: String,
                              rawsPath: String = "",
                              floor: Double = -1.0,
                              weather: String = ""): String = {
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    // every string field goes through jstr — an sfDir with a backslash
    // or quote must not invalidate the whole line's JSON
    val qs = results.map { case (k, v) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    // the calibration probes measure the BOX, not the engine — they ride
    // the line for triage but must not skew cross-round total comparisons
    // (engine_io_w_mbps is not even in seconds)
    val total =
      if (results.nonEmpty)
        results.collect { case (k, v)
          if k != "engine_calib" && k != "engine_io_w_mbps" => v }.sum
      else 0.0
    // a pile of error strings must not push the line past the 2000-char
    // tail budget: keep the first two verbatim (negative per-entry times
    // already flag WHICH entries failed), summarize the rest
    val errCapped =
      if (errors.size <= 2) errors
      else errors.take(2) :+ s"+${errors.size - 2} more failures"
    val errJson = errCapped.map(jstr).mkString("[", ",", "]")
    val raws = if (rawsPath.isEmpty) "" else s""","raws":${jstr(rawsPath)}"""
    // floor = sum of per-entry minima (plan-shaped total, weather-immune);
    // weather = the run's own verdict so the cross-round comparison reads
    // box conditions OFF THE LINE instead of re-running the forensics.
    // Both are TRIAGE fields: if a pathological all-entries-failed width
    // would push the line past the driver's 2000-char tail capture, they
    // are dropped (the sidecar's mins + calib carry the same facts) —
    // losing triage context beats losing the line's START.
    val extra = (if (floor >= 0) s""","floor":${jnum(floor)}""" else "") +
      (if (weather.nonEmpty) s""","weather":${jstr(weather)}""" else "")
    def line(r: String, x: String) =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"errors":$errJson,"sf":${jstr(sfDir)}$r$x}"""
    // shed fields in order of redundancy until the line fits: triage
    // first (sidecar mins + calib carry the same facts), then the raws
    // pointer itself (it is the FIXED default path, still discoverable)
    // — losing metadata beats losing the line's START to the capture
    Seq(line(raws, extra), line(raws, ""), line("", ""))
      .find(_.length < 1980).getOrElse(line("", ""))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.tools.LocalSpark.session(cpus.toInt, "WARN",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    // warm up the JVM/codegen/filesystem paths so the first measured query
    // doesn't absorb session startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val errors = scala.collection.mutable.ArrayBuffer[String]()
    def timed[A](name: String)(body: => A): Double =
      timedEntry(name, errors)(body)

    /** Drop per-entry state: dedup self-join caches, Spark's SQL cache,
      * and the chunk-byte LRU. Each entry starts from the same floor.
      */
    def resetCaches(): Unit = {
      graft.pipeline.Dedup.releaseCaches()
      spark.catalog.clearCache()
      graft.storage.ChunkCache.clear()
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()

    // box-weather calibration: one untimed warmup (JIT), then a timed
    // sample bracketing every pass below; raws go to the sidecar, the
    // line gets the median as `engine_calib`
    val calibTmp = java.nio.file.Files.createTempDirectory("graft-calib")
    calibSample(calibTmp) // JIT warmup, discarded
    val calibSamples =
      scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def calib(tag: String): Unit = {
      val v = calibSample(calibTmp)
      calibSamples += ((tag, v))
      System.err.println(f"[bench] calib $tag: $v%.3f s")
    }
    // every pass's raw per-entry samples, in pass order, for the sidecar
    val rawPasses = scala.collection.mutable.ArrayBuffer[
      (String, collection.Map[String, Double])]()

    /** Per-entry median across passes, in first-pass entry order. Failed
      * samples carry negative times and sort first, so an entry that
      * succeeds in a majority of passes reports a (positive) success
      * median and one that mostly fails stays visibly negative.
      */
    def medianInto(
        passes: Seq[scala.collection.Map[String, Double]]): Unit =
      passes.headOption.foreach { first =>
        first.keys.foreach { k =>
          val samples = passes.flatMap(_.get(k)).sorted
          if (samples.nonEmpty) results(k) = samples(samples.size / 2)
        }
      }

    // The query section gets the same median-of-N discipline as the
    // engine section: round 6's single-sample run reported q_zarr_keys at
    // 25 s (29× its round-5 number) purely from one I/O hiccup — a
    // number nobody can defend. Order is fixed within a pass and caches
    // are dropped after every entry, so no entry inherits another's
    // block-manager or LRU state.
    // local-iteration escape hatch (the driver never sets it): skip the
    // query section to time engine workloads alone
    val queryReps =
      if (sys.env.getOrElse("SPARK_GRAFT_SKIP_QUERIES", "0") == "1") 0
      else math.max(1, sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "3").toInt)
    // local-iteration escape hatch (the driver never sets it): drop named
    // queries from the timed set — the scale-soak tiers use it to exclude
    // gate queries whose in-query exact-audit sides are quadratic BY
    // DESIGN (the production ops they audit are separately timed)
    val querySkip: Set[String] = sys.env.getOrElse(
      "SPARK_GRAFT_QUERY_SKIP", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val timedQueries = SparkEntry.queries.filter { case (n, _) =>
      Bench.HeadlineQueries.contains(n) && !querySkip.contains(n) }
    // no silent caps: name what the line does NOT time (Verify's full
    // gate still runs every query)
    System.err.println("[bench] untimed (sub-second report queries, " +
      "covered by the Verify gate): " +
      SparkEntry.queries.keys.filterNot(Bench.HeadlineQueries.contains)
        .mkString(" "))
    val queryPasses = (0 until queryReps).map { rep =>
      calib(s"query$rep/start")
      val r = scala.collection.mutable.LinkedHashMap[String, Double]()
      timedQueries.foreach { case (name, fn) =>
        r(name) = timed(s"$name (pass $rep)")(fn(spark, sfDir).count())
        resetCaches()
      }
      calib(s"query$rep/end")
      System.err.println(s"[bench] query pass $rep: " + r.map {
        case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      rawPasses += ((s"query$rep", r))
      r
    }
    medianInto(queryPasses)

    // ---- engine workloads (BASELINE.md starred rows) ----
    // 500 000 refs, 100 splits — the large-manifest dataset shape
    // (benchmarks/datasets.py:392-414: 500 M elements / 1000-element chunks)
    val refCount = sys.env.getOrElse("SPARK_GRAFT_BENCH_REFS", "500000").toInt
    val cube = sys.env.getOrElse("SPARK_GRAFT_BENCH_CUBE", "512").toInt
    // 5 passes, not 3: isolated A/B runs of the two values-write routes
    // (provider-clustered vs catalog INSERT) show a multi-second stall that
    // lands on ONE heavy write entry per pass at random (JIT/IO weather,
    // identical plans — both routes spike in different passes). A median
    // of 3 lets a single stall through; a median of 5 tolerates two.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt

    // Scale-soak section gate (local iteration + the round-12 scale
    // tiers; the driver never sets it, so the official line is always
    // all-sections): `refs` = the manifest/merge/lookup family scaled by
    // SPARK_GRAFT_BENCH_REFS, `cube` = the tensor family (+ zarr
    // export/adopt, which need /cube) scaled by SPARK_GRAFT_BENCH_CUBE,
    // `pub` = push/fsck over whatever closure the enabled sections built.
    // Gating whole sections (not single entries) keeps intra-section data
    // dependencies intact; it also bounds the disk peak — cube=1024 with
    // zarr replica AND push replica live simultaneously would need ~77 GiB.
    val sections: Set[String] = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_SECTIONS", "refs,cube,pub")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet

    /** One full engine pass in a fresh repo at `dir`. Entry order inside a
      * pass is fixed; the cold→hot point-lookup pair deliberately shares
      * the chunk LRU (hot measures the cache), so no cache resets happen
      * mid-pass.
      */
    def enginePass(dir: java.nio.file.Path, rep: Int):
        scala.collection.mutable.LinkedHashMap[String, Double] = {
      // Spark caches catalog instances by name, so each pass needs its own
      // catalog bound to its own repo dir
      val cat = s"graftbench$rep"
      val r = scala.collection.mutable.LinkedHashMap[String, Double]()
      // collect BEFORE each timed entry (outside the timer): the cube
      // workloads allocate humongous arrays whose GC debt otherwise lands
      // in whichever later entry the collector happens to fire during —
      // the source of this entry set's historical bimodality
      def entry[A](name: String)(body: => A): Unit = {
        System.gc()
        r(name) = timed(s"$name (pass $rep)")(body)
      }
      val repo = Repository.create(Store.local(dir.toString), spark,
        GraftConfig(splits = Seq(SplitRule(".*", 0, refCount / 100))))
      val s0 = repo.writableSession("main")
      s0.addArray("/long1d", Seq(refCount.toLong * 1000), Seq(1000))
      s0.commit("init")

      def refsDf(from: Int, until: Int) =
        spark.range(from, until).select(
          array(col("id").cast("int")).as("coord"),
          lit("virtual").as("kind"),
          concat(lit("file:///ext/part-"), col("id") % 1000).as("location"),
          (col("id") * 8000).as("offset"),
          lit(8000L).as("length"))

      if (sections("refs")) { // ---- section: refs (manifest/merge family)
      // set_chunks + commit_split_manifests: full bulk write of N refs
      // into 100 split manifests, one commit
      entry("engine_write_500k_refs") {
        val s = repo.writableSession("main")
        s.stageChunkRefs("/long1d", refsDf(0, refCount))
        s.commit("bulk")
      }
      // append_split_manifests: extend by 1% — rewrites ONE shard
      entry("engine_append_one_shard") {
        val s = repo.writableSession("main")
        s.updateArray("/long1d", Seq((refCount + refCount / 100).toLong * 1000),
          Seq(1000))
        s.stageChunkRefs("/long1d", refsDf(refCount, refCount + refCount / 100))
        s.commit("append")
      }
      // commit_rebase_split_manifests: two writers race on the same
      // branch; the loser's commit detects the moved tip, rebases its
      // staged refs over the winner's snapshot and retries the CAS
      // (manifest.rs:481-520)
      entry("engine_commit_rebase") {
        val a = repo.writableSession("main")
        val b = repo.writableSession("main")
        a.stageChunkRefs("/long1d", refsDf(0, refCount / 100))
        b.stageChunkRefs("/long1d",
          refsDf(refCount / 100, 2 * (refCount / 100)))
        a.commit("winner")
        b.commit("rebased over winner") // lost CAS -> rebase path
      }
      // merge_branch: fork at the tip, 1% of refs edited on each side,
      // 3-way merge replays the fork's delta onto main — cost scales
      // with the CHANGE (two coord-keyed joins + one commit), not the
      // array
      locally { // setup (untimed): fork + a delta commit on each side
        val tip = repo.resolveVersion(VersionRef.Branch("main"))
        repo.createBranch("mb", tip)
        val f = repo.writableSession("mb")
        f.stageChunkRefs("/long1d", refsDf(0, refCount / 100))
        f.commit("branch delta")
        val m = repo.writableSession("main")
        m.stageChunkRefs("/long1d",
          refsDf(2 * (refCount / 100), 3 * (refCount / 100)))
        m.commit("main delta")
      }
      entry("engine_merge_branch") {
        repo.mergeBranch("mb", "main")
      }
      // merge touching MANY arrays: 100 small arrays each edited on the
      // branch — the chunk staging must plan ONE batched job, not 100
      // serial per-array joins (flat vs array count is the contract)
      locally { // setup (untimed)
        val s = repo.writableSession("main")
        (0 until 100).foreach { i =>
          s.addArray(s"/many/a$i", Seq(64), Seq(8))
          s.writeChunk(s"/many/a$i", Seq(0), Array[Byte](i.toByte))
        }
        val base = s.commit("many arrays")
        repo.createBranch("mba", base)
        val f = repo.writableSession("mba")
        (0 until 100).foreach { i =>
          f.writeChunk(s"/many/a$i", Seq(1), Array[Byte]((i + 1).toByte))
          f.writeChunk(s"/many/a$i", Seq(0), Array[Byte]((i + 2).toByte))
        }
        f.commit("branch edits everywhere")
        val m = repo.writableSession("main")
        m.writeChunk("/many/a0", Seq(7), Array[Byte](9))
        m.commit("main delta 2")
      }
      entry("engine_merge_many_arrays") {
        repo.mergeBranch("mba", "main")
      }
      // small-commit latency: 10 sequential point-edit commits (the
      // interactive write pattern — driver-side precedence/split fast
      // path, no per-flush window shuffle)
      entry("engine_commit_small_x10") {
        (0 until 10).foreach { i =>
          val s = repo.writableSession("main")
          (0 until 3).foreach(j => s.writeChunk("/long1d",
            Seq(i * 3 + j), Array[Byte](1, 2, 3, 4)))
          s.commit(s"small $i")
        }
      }
      // get_chunks: full scan of the committed ref relation
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      entry("engine_read_refs_scan") {
        assert(ro.refs("/long1d").count() == refCount + refCount / 100)
      }
      // DSv2 refs scan: manifest rows as columnar batches (vectorized)
      entry("engine_v2_refs_scan") {
        val df = spark.read.format("graft-v2")
          .option("path", dir.toString).option("array", "/long1d").load()
        assert(df.count() == refCount + refCount / 100)
      }
      // chunk point lookups (extent-pruned manifest access)
      entry("engine_point_lookups_x20") {
        (0 until 20).foreach { i =>
          ro.getChunkRef("/long1d", Seq(i * (refCount / 20) + 7))
        }
      }
      // batched form of the same read (the ERA5 slice pattern): a FRESH
      // repository handle — the serial entry warmed THIS repo's split
      // caches, and the batch must measure cold resolution — answers 20
      // cold lookups in ONE concurrent warm wave over memoized listings
      // (rounds 13–15), the engine's scale path for multi-coordinate
      // reads. Handle opened outside the timer (setup rule).
      val roBatch = Repository.open(Store.local(dir.toString), spark)
        .readonlySession(VersionRef.Branch("main"))
      entry("engine_point_lookups_batch") {
        val got = roBatch.getChunkRefs("/long1d",
          (0 until 20).map(i => Seq(i * (refCount / 20) + 3)))
        assert(got.flatten.size == 20)
      }
      // hot repeat of the same lookups: chunk-byte LRU + split cache
      // (reference hot-cache read benchmarks, test_benchmark_reads.py)
      entry("engine_point_lookups_hot") {
        (0 until 20).foreach { i =>
          ro.getChunkRef("/long1d", Seq(i * (refCount / 20) + 7))
        }
      }
      // getsize_prefix over the zarr key surface
      entry("engine_getsize_prefix") {
        new graft.zarr.ZarrStore(ro).getSizePrefix("long1d")
      }
      } // ---- end section: refs
      if (sections("cube")) { // ---- section: cube (tensor family + zarr)
      // 1 GiB synthetic int64 cube, 8 MB chunks — the BASELINE read suite
      // (512³ int64, chunks (4,512,512); datasets.py:300-321, 471-487)
      val chunkElems = 4 * cube * cube
      entry("engine_cube_write_1g") {
        val s = repo.writableSession("main")
        s.addArray("/cube", Seq(cube, cube, cube), Seq(4, cube, cube),
          Seq("t", "y", "x"), userData = """{"dtype":"int64"}""")
        for (c <- 0 until cube / 4) {
          val vals = Array.tabulate(chunkElems)(i =>
            ((c.toLong * chunkElems + i) % 1000) - 500)
          s.writeChunk("/cube", Seq(c, 0, 0),
            graft.functions.ChunkCodec.encodeLongs(vals, "int64"))
        }
        s.commit("cube")
      }
      // cold read: decode every chunk, reduce every element (native
      // per-chunk kernel — no row explode)
      entry("engine_cube_read_1g") {
        val ro = repo.readonlySession(VersionRef.Branch("main"))
        val stats = graft.tensor.TensorPlane.arrayStats(ro, "/cube", "int64")
          .head()
        assert(stats.getAs[Long]("n") == cube.toLong * cube * cube)
      }
      // slice read + reduce: all-dim split pruning + in-chunk sub-block
      // kernel (aggregation pushdown — no row explode at all)
      entry("engine_cube_slice_read") {
        val ro = repo.readonlySession(VersionRef.Branch("main"))
        val st = graft.tensor.TensorPlane.sliceStats(ro, "/cube", "int64",
          Seq((0L, 4L), (0L, cube.toLong), (0L, cube.toLong))).head()
        assert(st.getAs[Long]("n") == 4L * cube * cube)
      }
      // DSv2 columnar values scan over the whole cube: vectorized batches
      // from the sub-block decoder straight into whole-stage codegen. The
      // sum is over a cast, an aggregate `pushAggregation` refuses, so the
      // scan runs the columnar reader (`ColumnarToRow`, no
      // `PushedAggregates`), not the pushed-aggregate reader
      entry("engine_v2_columnar_scan") {
        val v = spark.read.format("graft-v2")
          .option("path", dir.toString).option("array", "/cube")
          .option("mode", "values").option("dtype", "int64").load()
        val res = v.agg(sum(col("value").cast("double")), count(lit(1)))
          .head()
        assert(res.getLong(1) == cube.toLong * cube * cube)
      }
      // per-timestep stats via pushed GROUP BY: partials are
      // #partitions × #groups rows, never cells
      entry("engine_v2_groupby_agg") {
        val v = spark.read.format("graft-v2")
          .option("path", dir.toString).option("array", "/cube")
          .option("mode", "values").option("dtype", "int64").load()
        val rows = v.groupBy(col("i0")).agg(sum(col("value")),
          count(lit(1)), max(col("value"))).collect()
        assert(rows.length == cube)
      }
      // factor-4³ mean pyramid level over the 1 GiB cube: the partial
      // kernel emits destination-volume rows (1/64th), so the combine
      // shuffle moves ~16 MB for 1 GiB decoded
      entry("engine_downsample_1g") {
        val s = repo.writableSession("main")
        graft.tensor.TensorPlane.downsample(s, "/cube", "/cube_l1",
          Seq(4, 4, 4), "int64")
        s.commit("pyramid level 1")
      }
      // verify outside the timer
      locally {
        val ro = repo.readonlySession(VersionRef.Branch("main"))
        assert(ro.node("/cube_l1").get.shape ==
          Seq((cube + 3L) / 4, (cube + 3L) / 4, (cube + 3L) / 4))
      }
      // DSv2 values WRITE through the provider route, chunk-clustered via
      // the `_c0.._cN` helper columns (plain field references — no
      // FunctionCatalog needed): whole chunks per task, no leftover merge,
      // one CAS commit. Half resolution (cube/2)³ cells.
      entry("engine_v2_values_write") {
        val n = cube / 2
        val s = repo.writableSession("main")
        s.addArray("/cube2", Seq(n, n, n), Seq(4, n, n))
        s.commit("cube2")
        spark.range(n.toLong * n * n).selectExpr(
          s"id div ${n.toLong * n} as i0",
          s"(id div $n) % $n as i1",
          s"id % $n as i2",
          "id % 1000 - 500 as value",
          s"id div ${4L * n * n} as _c0",
          s"((id div $n) % $n) div $n as _c1",
          s"(id % $n) div $n as _c2")
          .write.format("graft-v2")
          .option("path", dir.toString).option("array", "/cube2")
          .option("mode", "values").option("dtype", "int64")
          .option("clustered", "true")
          .option("message", "v2 values bench").mode("append").save()
      }
      // verify outside the timer (the write is the measured unit)
      locally {
        val n = cube / 2
        val check = spark.read.format("graft-v2")
          .option("path", dir.toString).option("array", "/cube2")
          .option("mode", "values").option("dtype", "int64").load()
        assert(check.count() == n.toLong * n * n)
      }
      // same write through the SQL catalog: the FunctionCatalog supplies
      // chunk_coord, so the distribution clusters on the CHUNK coordinate
      // (whole chunks per task, no boundary-leftover merge)
      entry("engine_catalog_values_write") {
        val n = cube / 2
        val s = repo.writableSession("main")
        s.addArray("/cube3", Seq(n, n, n), Seq(4, n, n),
          userData = """{"dtype":"int64"}""")
        s.commit("cube3")
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.path", dir.toString)
        spark.sql(
          s"""INSERT INTO $cat.cube3
             |SELECT id div ${n.toLong * n} AS i0,
             |       (id div $n) % $n AS i1,
             |       id % $n AS i2,
             |       id % 1000 - 500 AS value
             |FROM range(${n.toLong * n * n})""".stripMargin)
      }
      // value-plane snapshot diff: 4 of the cube's chunks are rewritten
      // OUTSIDE the timer; the measured unit is the diff itself — the
      // metadata join prunes to the 4 changed coords, so only 8 chunk
      // payloads decode out of 128 (through round 6 the edit commit was
      // inside the timer; ~2s of the old number was write, not diff)
      val (diffBefore, diffAfter) = {
        val before = repo.readonlySession(VersionRef.Branch("main"))
        val sd = repo.writableSession("main")
        (0 until 4).foreach { c =>
          val vals = Array.tabulate(chunkElems)(i => -((i % 1000) - 500).toLong)
          sd.writeChunk("/cube", Seq(c * (cube / 16), 0, 0),
            graft.functions.ChunkCodec.encodeLongs(vals, "int64"))
        }
        sd.commit("diff edits")
        (before, repo.readonlySession(VersionRef.Branch("main")))
      }
      entry("engine_values_diff") {
        val n = graft.tensor.TensorPlane
          .valueDiff(diffBefore, diffAfter, "/cube", "int64").count()
        assert(n > 0)
      }
      // publish the whole 1 GiB cube as a plain zarr v3 store (executor
      // writes) ...
      val zarrDir = dir.resolve("zarr-pub").toString
      entry("engine_zarr_export_1g") {
        val ro = repo.readonlySession(VersionRef.Branch("main"))
        val n = graft.ops.ZarrExport.exportStore(ro,
          Store.local(zarrDir), paths = Seq("/cube"))
        assert(n > 0)
      }
      // ... and adopt it back as a NEW repo with virtual refs: a 1 GiB
      // (at scale: 100 TB) store imports by moving only metadata — the
      // payload bytes never move
      entry("engine_zarr_adopt") {
        val adir = java.nio.file.Files.createTempDirectory("graft-adopt")
        try {
          val arepo = Repository.create(Store.local(adir.toString), spark,
            GraftConfig())
          graft.ops.ZarrImport.importStore(arepo, "main",
            Store.local(zarrDir))
          val ro = arepo.readonlySession(VersionRef.Branch("main"))
          assert(ro.refs("/cube").count() > 0)
        } finally {
          try org.apache.commons.io.FileUtils.deleteDirectory(adir.toFile)
          catch { case _: Throwable => () }
        }
      }
      // rect-destination concat of the 1 GiB cube with a rect tail:
      // pure ref relabeling — at 100 TB the concat cost is one metadata
      // pass, payload bytes never move
      entry("engine_rect_concat_1g") {
        val s = repo.writableSession("main")
        s.addArrayRectilinear("/cube_tail",
          Seq(6L, cube.toLong, cube.toLong),
          Seq(Seq(6L), Seq(cube.toLong), Seq(cube.toLong)),
          userData = """{"dtype":"int64"}""")
        s.writeChunk("/cube_tail", Seq(0, 0, 0),
          graft.functions.ChunkCodec.encodeLongs(
            Array.tabulate(6 * cube * cube)(i => (i * 7L) % 1000 - 500),
            "int64"))
        graft.tensor.TensorPlane.concat(s, Seq("/cube", "/cube_tail"),
          "/cube_cat", axis = 0, "int64")
        s.commit("rect concat")
      }
      // DSv2 slice read of the ~1 GiB RECTILINEAR destination crossing
      // the concat seam: per-dim start-table pruning keeps the scan to
      // the two boundary chunk rows, not the array
      entry("engine_rect_slice_read") {
        val v = spark.read.format("graft-v2")
          .option("path", dir.toString).option("array", "/cube_cat")
          .option("mode", "values").option("dtype", "int64").load()
        val res = v.filter(col("i0") >= (cube - 4).toLong &&
            col("i0") < (cube + 2).toLong)
          .agg(count(lit(1)), sum(col("value"))).head()
        assert(res.getLong(0) == 6L * cube * cube, "rect slice cells")
      }
      // rect storage-partitioned join on a WIDE grid (96 chunks on the
      // axis — past the inline-name boundary, so the digest transform
      // spelling carries the chunk-length table): two same-grid ~50 MB
      // arrays join with ZERO exchanges. Setup writes outside the timer.
      locally {
        val unit = 32768L
        val sizes = (0 until 96).map(i => (1L + i % 3) * unit)
        val total = sizes.sum
        val s = repo.writableSession("main")
        s.addArrayRectilinear("/spj_a", Seq(total), Seq(sizes),
          userData = """{"dtype":"int64"}""")
        s.addArrayRectilinear("/spj_b", Seq(total), Seq(sizes),
          userData = """{"dtype":"int64"}""")
        val df = spark.range(total).select(col("id").as("i0"),
          (col("id") % 997).as("value"))
        graft.tensor.TensorPlane.writeValues(s, "/spj_a", df, "int64")
        graft.tensor.TensorPlane.writeValues(s, "/spj_b",
          df.withColumn("value", col("value") * 3), "int64")
        s.commit("spj arrays")
        entry("engine_rect_spj") {
          spark.conf.set(s"spark.sql.catalog.$cat",
            classOf[graft.sources.GraftCatalog].getName)
          spark.conf.set(s"spark.sql.catalog.$cat.path", dir.toString)
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          try {
            val j = spark.sql(
              s"""SELECT sum(b.value - a.value) AS d, count(*) AS n
                 |FROM $cat.spj_a a JOIN $cat.spj_b b
                 |ON a.i0 = b.i0""".stripMargin)
            val plan = j.queryExecution.executedPlan.toString
            assert(!plan.linesIterator.exists(
              _.contains("Exchange hashpartitioning")), "rect SPJ shuffled")
            val r = j.head()
            assert(r.getLong(1) == total, "spj row count")
            assert(r.getLong(0) ==
              (0L until total).map(i => 2L * (i % 997)).sum, "spj sum")
          } finally {
            spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
          }
        }
      }
      // full-array regrid: (4,c,c) chunks -> (8,c/2,c/2) — the rechunk
      // job's shuffle carries ONLY the (src,dst) coord relation (bytes
      // per chunk); payloads move as object-store reads on the
      // destination tasks + uploads, never through the exchange
      entry("engine_rechunk_1g") {
        val s = repo.writableSession("main")
        graft.tensor.TensorPlane.rechunk(s, "/cube",
          Seq(8L, (cube / 2).toLong, (cube / 2).toLong), "int64")
        s.commit("rechunk")
      }
      // verify outside the timer
      locally {
        val ro = repo.readonlySession(VersionRef.Branch("main"))
        assert(ro.node("/cube").get.chunkShape ==
          Seq(8L, (cube / 2).toLong, (cube / 2).toLong), "rechunk grid")
        if (cube % 8 == 0)
          assert(ro.refs("/cube").count() == (cube / 8).toLong * 4,
            "rechunk ref count")
      }
      // row-returning region read: sub-block decode emits only the
      // requested cells, then the usual (i0..iN, value) explode
      entry("engine_cube_slice_rows") {
        val w = math.min(64L, cube.toLong) // stay in-bounds at smoke scales
        val ro = repo.readonlySession(VersionRef.Branch("main"))
        val rows = graft.tensor.TensorPlane.valuesRegion(ro, "/cube",
          "int64", Seq((0L, 4L), (0L, w), (0L, cube.toLong)))
          .agg(sum(col("value")), count(lit(1))).head()
        assert(rows.getLong(1) == 4L * w * cube)
      }
      // axis permutation of the 1 GiB cube: a pure map over the ref
      // relation (no shuffle) — each chunk decodes, re-strides, encodes,
      // uploads on its executor
      entry("engine_transpose_1g") {
        val s = repo.writableSession("main")
        graft.tensor.TensorPlane.transpose(s, "/cube", "/cube_t",
          Seq(2, 0, 1), "int64")
        s.commit("transpose")
      }
      // verify outside the timer
      locally {
        val ro = repo.readonlySession(VersionRef.Branch("main"))
        assert(ro.node("/cube_t").get.shape ==
          Seq(cube.toLong, cube.toLong, cube.toLong))
        assert(ro.refs("/cube_t").count() == ro.refs("/cube").count(),
          "transpose chunk count")
      }
      // elementwise algebra over the 1 GiB cube (a + a): ref relations
      // join, each output chunk decodes both sides and re-uploads on its
      // task — payload bytes never cross an exchange
      entry("engine_tensor_combine_1g") {
        val s = repo.writableSession("main")
        graft.tensor.TensorPlane.combine(s, "/cube", "/cube", "/cube_2x",
          "add", "int64")
        s.commit("cube + cube")
      }
      // verify outside the timer
      locally {
        val ro = repo.readonlySession(VersionRef.Branch("main"))
        val st = graft.tensor.TensorPlane.sliceStats(ro, "/cube_2x",
          "int64", Seq((0L, 4L), (0L, cube.toLong), (0L, cube.toLong)))
          .head()
        assert(st.getAs[Long]("n") == 4L * cube * cube)
      }
      } // ---- end section: cube
      if (sections("pub")) { // ---- section: pub (push/fsck over the closure)
      // closure-aware branch replication into a second store ("push a
      // branch to another bucket"): snapshots/tx logs driver-side,
      // manifest objects + chunk payloads copied executor-side. The
      // incremental re-push is the steady-state cost — one metadata walk
      // plus a parallel HEAD per chunk, zero bytes moved.
      val pushDir = dir.resolve("push-replica").toString
      entry("engine_repo_push") {
        val sum = graft.ops.Replicate.sync(repo, Store.local(pushDir), "main")
        // owned chunk payloads exist only when the cube section ran: the
        // refs section stages VIRTUAL refs (offset/length into external
        // files), which push correctly does not copy — a refs-only soak
        // composition must not read that as a failed push
        assert(sum.snapshotsCopied > 0 &&
          (sum.chunksCopied > 0 || !sections("cube")))
      }
      entry("engine_repo_push_incr") {
        val sum = graft.ops.Replicate.sync(repo, Store.local(pushDir), "main")
        assert(sum.chunksCopied == 0 && sum.snapshotsCopied == 0)
      }
      // fsck the whole multi-GiB closure: metadata walk + one distributed
      // stat pass over the distinct chunk ids — no payload reads
      entry("engine_fsck") {
        assert(graft.ops.Integrity.check(repo, "main").count() == 0)
      }
      } // ---- end section: pub
      r
    }

    // JIT/codegen warmup of the WRITE paths before any measured pass: the
    // query section above warms the read machinery, but the values-write
    // stack (writer codegen, parquet-mr, commit) otherwise compiles
    // inside pass 1 and skews its median entry by 3-5×. The warmup cube
    // is 128³ (2.1 M rows), not a toy: order-swapped runs of the two
    // values-write routes show
    // the FIRST large write in the JVM pays a 3-5× premium whichever
    // route runs first (provider 16.8 s → 3.0 s warm; catalog-first
    // flips it), and a 32³ warmup was too small to trigger the same
    // JIT/allocation profile — the premium then landed on the first
    // timed values entry and read as a route regression.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") == "1") {
      val wdir = java.nio.file.Files.createTempDirectory("graft-bench-warm")
      try {
        val wn = 128L
        val repo = Repository.create(Store.local(wdir.toString), spark,
          GraftConfig())
        val s = repo.writableSession("main")
        s.addArray("/w", Seq(wn, wn, wn), Seq(4, wn, wn))
        s.addArray("/w2", Seq(wn, wn, wn), Seq(4, wn, wn),
          userData = """{"dtype":"int64"}""")
        s.commit("warm")
        val cells = spark.range(wn * wn * wn).selectExpr(
          s"id div ${wn * wn} as i0", s"(id div $wn) % $wn as i1",
          s"id % $wn as i2", "id as value")
        cells.selectExpr("*", "i0 div 4 as _c0", "0L as _c1", "0L as _c2")
          .write.format("graft-v2")
          .option("path", wdir.toString).option("array", "/w")
          .option("mode", "values").option("dtype", "int64")
          .option("clustered", "true").mode("append").save()
        spark.conf.set("spark.sql.catalog.graftwarm",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graftwarm.path", wdir.toString)
        cells.createOrReplaceTempView("warm_cells")
        spark.sql("INSERT INTO graftwarm.w2 SELECT * FROM warm_cells")
        // rechunk's assemble/copy kernels JIT-compile on first use (a
        // cold first pass measured 3-6x the warm cost) — regrid the
        // warmup cube so the measured passes start warm
        locally {
          val ws = repo.writableSession("main")
          graft.tensor.TensorPlane.rechunk(ws, "/w",
            Seq(8L, wn / 2, wn / 2), "int64")
          ws.commit("warm rechunk")
        }
      } catch { case t: Throwable =>
        System.err.println(s"[bench] write warmup failed: $t")
      } finally {
        try org.apache.commons.io.FileUtils.deleteDirectory(wdir.toFile)
        catch { case _: Throwable => () }
        resetCaches()
      }
    }

    // engine workloads must never take the query timings down with them:
    // any failure below still leaves a complete JSON line for the driver
    val passes = (0 until reps).flatMap { rep =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-bench-$rep")
      calib(s"engine$rep/start")
      val out =
        try {
          val r = enginePass(dir, rep)
          System.err.println(s"[bench] pass $rep: " + r.map {
            case (k, v) => f"$k=$v%.2f" }.mkString(" "))
          rawPasses += ((s"engine$rep", r))
          Some(r)
        }
        catch { case t: Throwable =>
          System.err.println(s"[bench] engine pass $rep aborted: $t"); None }
        finally {
          try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
          catch { case _: Throwable => () }
          resetCaches()
          System.gc()
          calib(s"engine$rep/end")
        }
      out
    }
    medianInto(passes)

    // calib median rides the line (one ~20-char entry); raws go sidecar
    if (calibSamples.nonEmpty) {
      val sorted = calibSamples.map(_._2).sorted
      results("engine_calib") = sorted(sorted.size / 2)
    }
    // raw disk-write bandwidth (median of 3): the line's own I/O context
    // for cross-round drift triage (round 13; fund: q_band_join retired
    // to the stderr-named set)
    locally {
      val io = (0 until 3).map { _ =>
        val v = ioProbe(calibTmp)
        calibSamples += (("io_w_mbps", v))
        v
      }.sorted
      results("engine_io_w_mbps") = io(io.size / 2)
      System.err.println(f"[bench] io probe: ${io(io.size / 2)}%.0f MB/s")
    }
    try org.apache.commons.io.FileUtils
      .deleteDirectory(calibTmp.toFile)
    catch { case _: Throwable => () }
    // relative by default (resolves against the launch cwd, i.e. the
    // repo) — the line's 2000-char budget cannot afford an absolute path
    val rawsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RAWS",
      "bench_raws.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(rawsPath),
      rawsJson(sfDir, calibSamples.toSeq, rawPasses.toSeq)
        .getBytes("UTF-8"))
    catch { case t: Throwable =>
      System.err.println(s"[bench] sidecar write failed: $t") }

    // the line's own weather verdict (VERDICT r13 item 5): calib spread
    // (fixed work — any spread is the BOX) + disk probe, so the next
    // round's comparison starts from the run's self-classification
    // instead of a forensic pass over the sidecar
    val weather = {
      val cals = calibSamples.collect {
        case (tag, v) if tag != "io_w_mbps" && v > 0 => v }
      val spread = if (cals.size >= 2) cals.max / cals.min else 1.0
      val io = results.getOrElse("engine_io_w_mbps", 0.0)
      val verdict = if (spread > 3.0) "noisy" else "clear"
      f"calib_spread=$spread%.1fx io_w=$io%.0fMBps $verdict"
    }
    // floor = sum of per-entry minima across passes: the plan-shaped
    // total (weather spikes inflate medians, never minima)
    val floor = results.collect {
      case (k, v) if k != "engine_calib" && k != "engine_io_w_mbps" =>
        val mins = rawPasses.flatMap(_._2.get(k)).filter(_ > 0)
        if (mins.nonEmpty) mins.min else v
    }.sum

    println(jsonLine(results, errors, sfDir, rawsPath, floor, weather))
    spark.stop()
  }
}
