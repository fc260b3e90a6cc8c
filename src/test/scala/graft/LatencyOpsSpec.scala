package graft

import graft.repo._
import graft.storage.{LoggingStore, Store}

/** Round-trip-count pins for the object-store latency soak (round 13,
  * SURVEY §10): at 50–200 ms per store op, the cost of every metadata
  * path is its **op count on the critical path**, so the counts are
  * part of the performance contract and must not regress silently.
  * Counts are measured with the op-counting store decorator over a real
  * repo — no latency injection needed to pin them (`tools/LatencySoak`
  * measures the wall-clock side).
  */
class LatencyOpsSpec extends SparkTestBase {

  /** 130-commit repo, window 16 → several spilled segments. */
  private def build(dir: String): Unit = {
    val repo = Repository.create(Store.local(dir), spark,
      GraftConfig(snapshotIndexWindow = 16,
        splits = Seq(SplitRule(".*", 0, 8))))
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(256), Seq(4)) // 64 chunks / 8 splits
    s.commit("init")
    (0 until 130).foreach { i =>
      val w = repo.writableSession("main")
      w.writeChunk("/a", Seq(i % 64), Array[Byte](i.toByte))
      w.commit(s"c$i")
    }
  }

  private def counted(dir: String): (LoggingStore, () => Long) = {
    val st = new LoggingStore(Store.local(dir), _ => ())
    (st, () => {
      import scala.jdk.CollectionConverters._
      st.counts.asScala.values.map(_.get()).sum
    })
  }

  test("cold open of a deep segmented history is O(1) store ops " +
      "(one concurrent segment wave, not one GET per segment)") {
    val dir = tmpDir("ops-open")
    build(dir)
    val (st, total) = counted(dir)
    val repo = Repository.open(st, spark)
    repo.info()
    // listPage(tip) + pointer GET per load (open + info), segments in
    // ONE wave (each segment is one GET but they run concurrently; the
    // count stays bounded by the GEOMETRIC segment invariant: <= 4 at
    // this depth) — regression to one-segment-per-window spills would
    // push this past the bound
    assert(total() <= 12, s"cold open cost ${total()} store ops")
    val segs = repo.info().snapshotSegments.size
    assert(segs <= 4, s"$segs segments at depth 132 — geometric merge broken")
  }

  test("batched point lookups cost one op pair per DISTINCT cold split, " +
      "not per coordinate") {
    val dir = tmpDir("ops-batch")
    build(dir)
    val (st, total) = counted(dir)
    val repo = Repository.open(st, spark)
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val t0 = total()
    // 16 coords across the array's 8 splits: cost = 8 × (list + GET)
    // for the cold split loads + nothing per extra coord
    val refs = ro.getChunkRefs("/a", (0 until 16).map(i => Seq(i * 4 + 1)))
    assert(refs.flatten.size == 16)
    val cost = total() - t0
    assert(cost <= 2 * 8 + 2, s"batched lookup cost $cost ops for 8 splits")
    // hot repeat: zero store ops
    val t1 = total()
    ro.getChunkRefs("/a", (0 until 16).map(i => Seq(i * 4 + 1)))
    assert(total() - t1 == 0, "hot batched lookup touched storage")
  }

  test("cross-array batched lookups warm every array's splits in ONE " +
      "wave (ERA5 time-slice shape)") {
    val dir = tmpDir("ops-xbatch")
    val repo0 = Repository.create(Store.local(dir), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 8))))
    val arrays = Seq("/g/a", "/g/b", "/g/c")
    locally {
      val s = repo0.writableSession("main")
      arrays.foreach(p => s.addArray(p, Seq(64), Seq(4)))
      s.commit("init")
      val w = repo0.writableSession("main")
      for (p <- arrays; i <- 0 until 16)
        w.writeChunk(p, Seq(i), Array[Byte](i.toByte))
      w.commit("fill")
    }
    val (st, total) = counted(dir)
    val repo = Repository.open(st, spark)
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val t0 = total()
    // one coord per array, all in the same split index: 3 cold splits
    val refs = ro.getChunkRefsBatch(arrays.map(p => (p, Seq(9))))
    assert(refs.flatten.size == 3)
    val cost = total() - t0
    assert(cost <= 2 * 3 + 2, s"cross-array batch cost $cost ops")
  }

  test("ops log over a deep unpruned generation chain reads each " +
      "generation exactly once") {
    val dir = tmpDir("ops-log")
    build(dir)
    val (st, total) = counted(dir)
    val repo = Repository.open(st, spark)
    val t0 = total()
    val ops = repo.opsLog()
    assert(ops.nonEmpty)
    // 132 generations + tip listPage + already-loaded tip: one GET per
    // generation, no re-reads from the batching (batches are fetched
    // concurrently but each generation exactly once)
    val cost = total() - t0
    assert(cost <= 140, s"opsLog cost $cost ops for 132 generations")
  }

  test("oversized-split point lookup is a bounded handful of ranged " +
      "driver reads — no Spark job, no full-shard download (r14)") {
    val dir = tmpDir("ops-ranged")
    locally {
      val repo = Repository.create(Store.local(dir), spark)
      val s = repo.writableSession("main")
      s.addArray("/big", Seq(96), Seq(1)) // default split rule: ONE split
      (0 until 96).foreach(i =>
        s.writeChunk("/big", Seq(i), Array[Byte](i.toByte, 7)))
      s.commit("bulk")
    }
    val (st, total) = counted(dir)
    val repo = Repository.open(st, spark)
    // force the oversized path (production cap 250k; the split here has
    // 96 refs) — the cap gates CACHEABILITY, the lookup contract is the
    // same on either side of it
    repo.assets.MaxCachedRefsPerSplit = 50
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val t0 = total()
    assert(ro.getChunk("/big", Seq(37)).get.toSeq == Seq[Byte](37, 7))
    val cost = total() - t0
    // one split-dir list + footer/column-index/page ranged reads of ONE
    // data file: bounded regardless of split size (the old path here was
    // a Spark job per lookup — ~100 ms scheduling floor and the r12
    // soak's superlinear cold-lookup exponent)
    assert(cost <= 15, s"ranged oversized lookup cost $cost store ops")
    // correctness across the shard, including the edges
    assert(ro.getChunk("/big", Seq(0)).get.toSeq == Seq[Byte](0, 7))
    assert(ro.getChunk("/big", Seq(95)).get.toSeq == Seq[Byte](95, 7))
    // batched form: oversized-split probes run as one concurrent wave,
    // results aligned by index and value-correct
    val batch = ro.getChunkRefs("/big", (0 until 24).map(i => Seq(i * 4)))
    assert(batch.size == 24 && batch.forall(_.isDefined))
    batch.zipWithIndex.foreach { case (r, i) =>
      assert(r.get.inline.toSeq == Seq[Byte]((i * 4).toByte, 7), s"at $i")
    }
  }

  test("ranged lookup reads SPARK-written shards identically " +
      "(writer parity: zstd + row-group stats + column index)") {
    val dir = tmpDir("ranged-spark")
    val repo = Repository.create(Store.local(dir), spark)
    import org.apache.spark.sql.functions.lit
    val refs = (0 until 300).map(i =>
      graft.meta.ChunkRef.nativeRef("nX", Seq(i), s"id$i", 0L, i.toLong))
    val df = spark.createDataset(refs)(
      org.apache.spark.sql.Encoders.product[graft.meta.ChunkRef])
      .toDF().withColumn("split", lit(0)).withColumn("_batch", lit(0.0))
    // the executor (fused) route: the shard is written inside a Spark task
    val refsMap = repo.assets.writeManifestFused("mRANGED", df,
      Map("nX" -> Seq(300)))
    val files = repo.store.list("manifests/mRANGED/node_id=nX/split=0/")
      .filter(_.key.endsWith(".parquet"))
    assert(files.nonEmpty)
    val hits = files.flatMap(o => graft.meta.DriverParquet
      .lookupRefsRanged(repo.store, o.key, o.size, "nX", Seq(123)))
    assert(hits.exists(r => r.coord == Seq(123) && r.chunk_id == "id123" &&
      r.length == 123L), s"got $hits")
    // a miss stays a miss (no phantom rows from page-level filtering)
    assert(files.flatMap(o => graft.meta.DriverParquet
      .lookupRefsRanged(repo.store, o.key, o.size, "nX", Seq(4242)))
      .isEmpty)
    // batched form past the 256-coord OR-group bound: 300 requested
    // coords split into 2 shallow predicate groups (an unbounded
    // left-deep OR tree is StackOverflow territory in parquet-mr's
    // recursive filter evaluation), every hit exact, misses absent
    val mref = refsMap("nX").head
    val batch = repo.assets.lookupRefsBatch(mref, "nX",
      (0 until 300).map(Seq(_)) ++ Seq(Seq(999999)))
    assert(batch.size == 300, s"got ${batch.size}")
    assert(batch(Seq(123)).chunk_id == "id123" &&
      batch(Seq(123)).length == 123L)
    assert(!batch.contains(Seq(999999)))
  }

  test("a batched wave through ONE oversized split issues exactly 1 dir " +
      "LIST (listings memoized + in-flight coalesced, VERDICT r14)") {
    val dir = tmpDir("ops-listmemo")
    locally {
      val repo = Repository.create(Store.local(dir), spark)
      val s = repo.writableSession("main")
      s.addArray("/big", Seq(96), Seq(1)) // default split rule: ONE split
      (0 until 96).foreach(i =>
        s.writeChunk("/big", Seq(i), Array[Byte](i.toByte, 7)))
      s.commit("bulk")
    }
    val (st, total) = counted(dir)
    val repo = Repository.open(st, spark)
    repo.assets.MaxCachedRefsPerSplit = 50 // force the oversized path
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    st.counts.clear()
    val batch = ro.getChunkRefs("/big", (0 until 24).map(i => Seq(i * 4)))
    assert(batch.size == 24 && batch.forall(_.isDefined))
    val lists = Option(st.counts.get("list")).map(_.get()).getOrElse(0L)
    // 24 concurrent probes through one immutable split: ONE LIST (S3
    // prices LIST at 12.5x a GET) and ONE multi-coordinate filtered
    // read per data file (OR predicate: footer + column index + the
    // union of candidate pages — round 15), NOT 24 independent reads
    assert(lists == 1, s"$lists LISTs for a 24-probe wave through 1 split")
    val cost = total()
    assert(cost <= 16, s"batched oversized wave cost $cost ops " +
      "(must be ~one filtered file read, not one per coordinate)")
    // a second wave re-lists nothing at all
    st.counts.clear()
    ro.getChunkRefs("/big", (0 until 24).map(i => Seq(i * 4 + 1)))
    assert(Option(st.counts.get("list")).map(_.get()).getOrElse(0L) == 0L,
      "warm wave re-listed the split dir")
    // an IDENTICAL repeat wave costs ZERO store ops end to end: the
    // listing is memoized and every byte range (footer, column index,
    // pages) comes from the immutable-file range cache (VERDICT r15
    // item 3)
    st.counts.clear()
    ro.getChunkRefs("/big", (0 until 24).map(i => Seq(i * 4 + 1)))
    assert(total() == 0,
      s"identical warm wave touched storage: ${st.counts}")
  }

  test("oversized ranged reads pin BYTES, not just ops: a 24-coordinate " +
      "wave costs ~one filtered read, warm waves cost zero bytes " +
      "(VERDICT r15 items 3+4)") {
    import graft.meta.{ChunkRef, DriverParquet}
    val raw = Store.local(tmpDir("ops-bytes"))
    val key = "manifests/mBYTES/node_id=nB/split=0/part-0.parquet"
    // 600k refs → multi-page column chunks, the shape where page-level
    // pruning matters (driver-written, no Spark job needed)
    val refs = (0 until 600000).map(i =>
      ChunkRef.nativeRef("nB", Seq(i), s"id$i", 0L, i.toLong))
    raw.putBytes(key, DriverParquet.writeChunkRefs(refs))
    val size = raw.stat(key).get.size
    val st = new LoggingStore(raw, _ => ())
    DriverParquet.clearRangeCache()
    // single cold lookup: the per-coordinate unit cost
    val one = DriverParquet.lookupRefsRangedMulti(st, key, size, "nB",
      Seq(Seq(123)))
    assert(one.exists(r => r.coord == Seq(123) && r.chunk_id == "id123"))
    val oneBytes = st.bytesRead.get()
    assert(oneBytes > 0 && oneBytes < size,
      s"single lookup read $oneBytes of $size B — page pruning inactive")
    // 24-coordinate cold wave: the OR-predicate batch reads the footer +
    // column index + candidate pages ONCE for the whole wave — a silent
    // degradation to per-coordinate reads would cost ~24 × the single
    // lookup's bytes, and per-coordinate FULL-shard reads ~24 × size
    DriverParquet.clearRangeCache()
    st.bytesRead.set(0); st.counts.clear()
    val coords = (0 until 24).map(i => Seq(i * 40 + 3))
    val hits = DriverParquet.lookupRefsRangedMulti(st, key, size, "nB",
      coords)
    assert(coords.forall(c => hits.exists(_.coord == c)))
    val waveBytes = st.bytesRead.get()
    assert(waveBytes <= oneBytes * 3,
      s"24-coord wave read $waveBytes B vs $oneBytes B for one coord — " +
        "batch amortization lost")
    assert(waveBytes < size * 2,
      s"24-coord wave read $waveBytes B of a $size B shard")
    // warm repeat: every range cached — zero bytes, zero ranged GETs
    st.bytesRead.set(0); st.counts.clear()
    DriverParquet.lookupRefsRangedMulti(st, key, size, "nB", coords)
    assert(st.bytesRead.get() == 0 && !st.counts.containsKey("getRange"),
      s"warm wave re-read ${st.bytesRead.get()} B: ${st.counts}")
  }

  test("batched lookups on a dirty session probe the changeset ONCE: " +
      "zero Spark jobs for point-only edits, one bounded probe for " +
      "staged batches (VERDICT r14)") {
    val dir = tmpDir("ops-dirtybatch")
    val repo = Repository.create(Store.local(dir), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 8))))
    locally {
      val s = repo.writableSession("main")
      s.addArray("/a", Seq(64), Seq(4))
      (0 until 16).foreach(i =>
        s.writeChunk("/a", Seq(i), Array[Byte](i.toByte)))
      s.commit("base")
    }
    // point-only dirty session: staged rows are driver-known
    val w = repo.writableSession("main")
    w.writeChunk("/a", Seq(2), Array[Byte](99))
    w.writeChunk("/a", Seq(5), Array[Byte](98))
    val reqs = (0 until 16).map(i => ("/a", Seq(i)))
    // warm the split caches first so only the changeset probe could
    // possibly schedule work
    w.getChunkRefsBatch(reqs)
    var refs = Seq.empty[Option[graft.meta.ChunkRef]]
    val jobs = jobsDuring { refs = w.getChunkRefsBatch(reqs) }
    assert(refs.flatten.size == 16)
    assert(refs(2).get.inline.head == 99 && refs(5).get.inline.head == 98)
    assert(refs(3).get.inline.head == 3, "committed ref lost under overlay")
    assert(jobs == 0, s"$jobs Spark jobs for a point-only dirty batch")

    // staged-batch dirty session: ONE semi-joined probe for the whole
    // batch (the old path ran one single-row collect PER request)
    import spark.implicits._
    import org.apache.spark.sql.functions.typedLit
    val stagedDf = Seq((Seq(7), "inline"), (Seq(9), "inline"))
      .toDF("coord", "kind")
      .withColumn("inline", typedLit(Array[Byte](42)))
    w.stageChunkRefs("/a", stagedDf)
    var refs2 = Seq.empty[Option[graft.meta.ChunkRef]]
    val jobs2 = jobsDuring { refs2 = w.getChunkRefsBatch(reqs) }
    assert(refs2.flatten.size == 16)
    assert(refs2(7).get.inline.head == 42 && refs2(9).get.inline.head == 42)
    assert(refs2(2).get.inline.head == 99, "point edit lost under batch")
    assert(jobs2 <= 4,
      s"$jobs2 Spark jobs for a 16-request staged-batch dirty probe " +
        "(must be one bounded probe, not one collect per request)")
  }

  test("Spark-plane reads through graft:// are a bounded handful of " +
      "store ops (latency-soak rows pinned per-round, VERDICT r14)") {
    val dir = tmpDir("ops-sparkplane")
    locally {
      val repo = Repository.create(Store.local(dir), spark,
        GraftConfig(splits = Seq(SplitRule(".*", 0, 8))))
      val s = repo.writableSession("main")
      s.addArray("/cube", Seq(64, 64), Seq(16, 16))
      for (ci <- 0 until 4; cj <- 0 until 4) {
        val bb = java.nio.ByteBuffer.allocate(16 * 16 * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 256).foreach(k =>
          bb.putDouble((ci * 1000 + cj * 100 + k).toDouble))
        s.writeChunk("/cube", Seq(ci, cj), bb.array())
      }
      s.commit("cube")
    }
    val counting = new LoggingStore(Store.local(dir), _ => ())
    val pStore = new graft.storage.GraftUriStore(counting, "opspin")
    val repo = Repository.open(pStore, spark)
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    counting.counts.clear()
    val n = ro.refs("/cube")
      .filter(org.apache.spark.sql.functions.col("c0") === 1).count()
    assert(n == 4, s"pruned scan returned $n refs")
    val scanOps = {
      import scala.jdk.CollectionConverters._
      counting.counts.asScala.values.map(_.get()).sum
    }
    // the soak holds this row at ~20 RTTs of wall; the op COUNT behind
    // those waves must not regress silently either (each op is one RTT
    // candidate at object-store latency)
    assert(scanOps <= 60, s"filtered manifest scan cost $scanOps store ops")
    counting.counts.clear()
    val row = graft.tensor.TensorPlane.sliceStats(ro, "/cube", "float64",
      Seq((8L, 40L), (8L, 40L))).collect().head
    assert(row.getAs[Long]("n") == 32L * 32, "wrong cell count")
    val sliceOps = {
      import scala.jdk.CollectionConverters._
      counting.counts.asScala.values.map(_.get()).sum
    }
    assert(sliceOps <= 90, s"cube slice stats cost $sliceOps store ops")
  }

  test("fsck's driver-side probes stay one op set per closure asset " +
      "(waves, not chains — soak row pinned per-round)") {
    val dir = tmpDir("ops-fsck")
    build(dir)
    val (st, total) = counted(dir)
    val repo = Repository.open(st, spark)
    val t0 = total()
    val issues = graft.ops.Integrity.check(repo, "main").count()
    assert(issues == 0, s"fsck found $issues issues on a healthy repo")
    val cost = total() - t0
    // 131 snapshots in the closure: ~1 exists + ~1 manifest-prefix list
    // + ~1 tx-log GET per snapshot plus pointer/segment loads — the
    // soak measures these as CONCURRENT waves (~48 serial RTTs at
    // 50 ms); the COUNT is the regression guard here (a per-asset
    // chain that doubles the ops doubles the object-store wall)
    assert(cost <= 131 * 4 + 40, s"fsck cost $cost store ops")
  }

  test("interactive small commit is O(1) store ops") {
    val dir = tmpDir("ops-commit")
    build(dir)
    val (st, total) = counted(dir)
    val repo = Repository.open(st, spark)
    // warm one commit (fills session caches shared in this process)
    locally {
      val w = repo.writableSession("main")
      w.writeChunk("/a", Seq(0), Array[Byte](1))
      w.commit("warm")
    }
    val t0 = total()
    val w = repo.writableSession("main")
    w.writeChunk("/a", Seq(9), Array[Byte](2))
    w.commit("measured")
    val cost = total() - t0
    // chain (SURVEY §10): ONE info load at open (listPage+GET — the
    // commit's first CAS attempt reuses it optimistically), prev-shard
    // list+GET, shard PUT, snapshot PUT ∥ tx-log PUT, CAS PUT ≈ 8;
    // headroom 10
    assert(cost <= 10, s"small commit cost $cost store ops")
  }
}
