package graft

import org.apache.spark.sql.functions._
import graft.repo._
import graft.storage.Store

/** Equivalence pins for the r17 fused flush write (VERDICT r16 item 1):
  * the bulk Spark-path flush resolves last-write-wins precedence,
  * tombstones, exclusions and shape bounds INSIDE the manifest write's one
  * exchange+sort (no precedence window, no anti-join, no extents readback)
  * — these tests pin that the fused pass computes exactly what the window
  * formulation computed, including the extents the snapshot records.
  */
class FusedFlushSpec extends SparkTestBase {

  private def stageRange(s: Session, path: String, from: Int, until: Int,
                         tag: String): Unit =
    s.stageChunkRefs(path, spark.range(from, until).select(
      array(col("id").cast("int")).as("coord"),
      lit("virtual").as("kind"),
      concat(lit(s"file:///$tag/"), col("id")).as("location"),
      lit(0L).as("offset"), (col("id") + 1L).as("length")))

  test("bulk flush: cross-batch precedence, point-over-staged, tombstones " +
      "and committed fallback all resolve exactly (fused write)") {
    val repo = Repository.create(Store.local(tmpDir("fused1")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 4000))))
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(30000), Seq(1))
    // committed base layer: coords 0..11999 tagged C
    stageRange(s0, "/a", 0, 12000, "C")
    s0.commit("base")
    // bulk changeset, > SmallCommitMaxRefs raw rows so the Spark path runs:
    // batch1 rewrites 0..11999 as A, batch2 rewrites 0..5999 as B (wins),
    // a point edit overrides coord 17 (wins over both), coord 100 deleted
    val s1 = repo.writableSession("main")
    stageRange(s1, "/a", 0, 12000, "A")
    stageRange(s1, "/a", 0, 6000, "B")
    s1.setChunkRef("/a", Seq(17),
      graft.meta.ChunkRef.virtualRef("", Seq(17), "file:///P/17", 0L, 999L))
    s1.deleteChunk("/a", Seq(100))
    s1.commit("bulk")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val got = ro.refs("/a").select("coord", "location", "length")
      .collect().map(r => (r.getSeq[Int](0).head,
        (r.getString(1), r.getLong(2)))).toMap
    assert(got.size == 11999) // 12000 minus the tombstoned coord
    assert(!got.contains(100))
    assert(got(17) == ("file:///P/17", 999L)) // point edit outranks batches
    assert(got(5999) == ("file:///B/5999", 6000L))
    assert(got(6000) == ("file:///A/6000", 6001L))
    assert(got(0) == ("file:///B/0", 1L))
    assert(got(11999) == ("file:///A/11999", 12000L))

    // extents pin: the fused write's task-output stats must equal a
    // recomputation from the final refs (per (node, split): min/max coord,
    // ref count, byte sum) — the old path read these back with a job
    val snap = repo.assets.readSnapshot(repo.resolveVersion(
      VersionRef.Branch("main")))
    val node = snap.nodes.find(_.path == "/a").get
    val mrefs = snap.manifests(node.id)
    val bySplit = got.toSeq.groupBy(_._1 / 4000)
    assert(mrefs.map(_.split).sorted == bySplit.keys.toSeq.sorted)
    mrefs.foreach { m =>
      val refs = bySplit(m.split)
      assert(m.emin == Seq(refs.map(_._1).min), s"split ${m.split} emin")
      assert(m.emax == Seq(refs.map(_._1).max), s"split ${m.split} emax")
      assert(m.numRefs == refs.size, s"split ${m.split} numRefs")
      assert(m.sizeBytes == refs.map(_._2._2).sum, s"split ${m.split} bytes")
    }
  }

  test("bulk flush: exclusions drop OUR edits (committed value resurfaces) " +
      "and shrink bounds drop out-of-shape winners after precedence") {
    val repo = Repository.create(Store.local(tmpDir("fused2")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 1000))))
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(100), Seq(1))
    stageRange(s0, "/a", 0, 100, "C")
    s0.commit("base")
    val s1 = repo.writableSession("main")
    stageRange(s1, "/a", 0, 100, "A")     // batch1: everything A
    stageRange(s1, "/a", 0, 50, "B")      // batch2: 0..49 -> B
    // exclusion (the rebase UseTheirs shape): drop OUR edits on 60..69 —
    // the committed C rows must resurface for exactly those coords
    s1.changeSet.addExclusion(spark.range(60, 70).select(
      lit(node(repo)).as("node_id"), array(col("id").cast("int")).as("coord")))
    // shrink to 80 chunks: committed 80..99 AND staged 80..99 are dropped
    // by the bounds filter even where the staged row won precedence
    s1.updateArray("/a", Seq(80), Seq(1))
    s1.commit("bulk with exclusions + shrink")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val got = ro.refs("/a").select("coord", "location")
      .collect().map(r => (r.getSeq[Int](0).head, r.getString(1))).toMap
    assert(got.size == 80, s"got ${got.size}")
    assert(got(0) == "file:///B/0")
    assert(got(49) == "file:///B/49")
    assert(got(50) == "file:///A/50")
    assert(got(59) == "file:///A/59")
    (60 until 70).foreach(i => assert(got(i) == s"file:///C/$i", s"at $i"))
    assert(got(70) == "file:///A/70")
    assert(got(79) == "file:///A/79")
    assert(!got.contains(80) && !got.contains(99))
  }

  private def node(repo: Repository): String = {
    val snap = repo.assets.readSnapshot(
      repo.resolveVersion(VersionRef.Branch("main")))
    snap.nodes.find(_.path == "/a").get.id
  }

  /** Run `f`: the spans it emitted and the start time of each Spark job
    * it ran.
    */
  private def traced(f: => Unit): (Seq[graft.core.Trace.Span], Seq[Long]) = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        starts.add(js.time); ()
      }
    }
    val mem = graft.core.Trace.toMemory()
    spark.sparkContext.addSparkListener(listener)
    try {
      // returns once the listener bus delivered every job start of `f`
      jobsDuring(f)
      (mem.spans, starts.toArray.toSeq.map(_.asInstanceOf[Long]))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.core.Trace.disable()
    }
  }

  private def routesOf(spans: Seq[graft.core.Trace.Span]): Seq[String] =
    spans.filter(_.name == "manifest.write")
      .map(_.attrs.getOrElse("route", "?"))

  /** The `route` of every `manifest.write` span `f` emitted. */
  private def flushRoutes(f: => Unit): Seq[String] = routesOf(traced(f)._1)

  /** Spark jobs started inside a `flush.finalize` span, where a tx-log
    * writer job would run.
    */
  private def finalizeJobs(spans: Seq[graft.core.Trace.Span],
                           starts: Seq[Long]): Int =
    starts.count(t => spans.exists(s => s.name == "flush.finalize" &&
      t >= s.startMillis && t <= s.startMillis + s.durMicros / 1000 + 1))

  /** `n` rows over 10 coords from `c0`, payloads differing in `length`. */
  private def stageDups(s: Session, n: Int, c0: Int): Unit =
    s.stageChunkRefs("/a", spark.range(0, n).select(
      (pmod(col("id"), lit(10)) + c0).cast("int").as("c"), col("id"))
      .select(array(col("c")).as("coord"), lit("virtual").as("kind"),
        concat(lit("file:///D/"), col("c")).as("location"),
        lit(0L).as("offset"), col("id").as("length")))

  test("duplicate coords within ONE staged batch collapse to a single row") {
    val repo = Repository.create(Store.local(tmpDir("fused3")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 1000))))
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(100), Seq(1))
    s0.commit("init")
    val s1 = repo.writableSession("main")
    // the same coord staged 2000 times in one batch, the payloads
    // differing only in length: the total tie order (payload columns past
    // _batch) makes the smallest length win, on every route and attempt
    stageDups(s1, 20000, 0)
    assert(flushRoutes(s1.commit("dups")) == Seq("spark"))
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val rows = ro.refs("/a").select("coord", "location", "length").collect()
    assert(rows.length == 10, s"got ${rows.length}")
    rows.foreach { r =>
      val c = r.getSeq[Int](0).head
      assert(r.getString(1) == s"file:///D/$c")
      assert(r.getLong(2) == c, s"Spark-route winner at $c") // min id ≡ c
    }
    // under the staged-collect bound the driver route resolves the same
    // ties to the same winners
    val s2 = repo.writableSession("main")
    stageDups(s2, 2000, 10)
    assert(flushRoutes(s2.commit("dups on the driver")) == Seq("driver"))
    val got = repo.readonlySession(VersionRef.Branch("main")).refs("/a")
      .select("coord", "length").collect()
      .map(r => r.getSeq[Int](0).head -> r.getLong(1)).toMap
    assert(got.size == 20, s"got ${got.size}")
    (10 until 20).foreach(c =>
      assert(got(c) == c - 10, s"driver-route winner at $c: ${got(c)}"))
  }

  test("merge past the driver-route delta bound takes the Spark staging " +
      "path and produces the same merged state shape") {
    // split size 1000 so the r17 coord-bounded staging actually prunes:
    // the 12k-coord delta's box [8000, 19999] must skip splits 0..7 while
    // the merged state stays exact (these assertions)
    val repo = Repository.create(Store.local(tmpDir("fused4")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 1000))))
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(40000), Seq(1))
    stageRange(s0, "/a", 0, 20000, "C")
    val base = s0.commit("base")
    repo.createBranch("fb", base)
    val f = repo.writableSession("fb")
    // 12k-coord delta: past Session.SmallCommitMaxRefs, so the merge's
    // driver staging bails to the Spark semi/anti-join route
    stageRange(f, "/a", 8000, 20000, "F")
    f.commit("branch delta")
    val m = repo.writableSession("main")
    stageRange(m, "/a", 0, 100, "M")
    m.commit("main delta")
    repo.mergeBranch("fb", "main")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val got = ro.refs("/a").select("coord", "location")
      .collect().map(r => (r.getSeq[Int](0).head, r.getString(1))).toMap
    assert(got.size == 20000)
    assert(got(0) == "file:///M/0")       // dst's own edit, untouched by src
    assert(got(99) == "file:///M/99")
    assert(got(100) == "file:///C/100")   // base value outside both deltas
    assert(got(8000) == "file:///F/8000") // src delta replayed
    assert(got(19999) == "file:///F/19999")
  }

  test("merge driver route: overwrites, a src-side delete, and a new " +
      "chunk all land exactly (tombstone for the delete, src-tip refs " +
      "for the rest)") {
    val repo = Repository.create(Store.local(tmpDir("fusedm1")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 1000))))
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(1000), Seq(1))
    stageRange(s0, "/a", 0, 500, "C")
    val base = s0.commit("base")
    repo.createBranch("fb", base)
    val f = repo.writableSession("fb")
    stageRange(f, "/a", 100, 300, "F")   // overwrite 100..299
    f.deleteChunk("/a", Seq(450))        // delete one committed chunk
    f.writeChunk("/a", Seq(700), Array[Byte](7)) // new chunk past base
    f.commit("branch delta")
    val m = repo.writableSession("main")
    stageRange(m, "/a", 0, 50, "M")
    m.commit("main delta")
    repo.mergeBranch("fb", "main") // small logs + small delta: driver route
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    val a = ro.refs("/a").select("coord", "location", "kind").collect()
      .map(r => (r.getSeq[Int](0).head,
        Option(r.getString(1)).getOrElse(r.getString(2)))).toMap
    assert(a.size == 500) // 500 base - 1 deleted + 1 new
    assert(a(0) == "file:///M/0")
    assert(a(100) == "file:///F/100")
    assert(a(299) == "file:///F/299")
    assert(a(300) == "file:///C/300")
    assert(!a.contains(450))
    assert(a.contains(700))
  }

  test("bulk flush: fused tx-log shards carry exactly the changed keys " +
      "(tombstones included), readable by both log readers, diff intact") {
    val repo = Repository.create(Store.local(tmpDir("fusedtx")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 4000))))
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(30000), Seq(1))
    stageRange(s0, "/a", 0, 12000, "C")
    val base = s0.commit("base") // bulk → Spark fused path + fused tx log
    val s1 = repo.writableSession("main")
    stageRange(s1, "/a", 0, 12000, "A")
    stageRange(s1, "/a", 0, 6000, "B")
    s1.deleteChunk("/a", Seq(100))
    val tip = s1.commit("bulk")
    // the log's chunk-key set is exactly the distinct changed keys — one
    // row per (node, coord) edited, the tombstoned coord included — plus
    // no node edits on this commit; paths resolve
    val log = repo.assets.readTxLog(tip)
    val rows = log.collect()
    val chunkCoords = rows.filter(_.getAs[String]("edit") == "chunk")
    assert(chunkCoords.length == 12000)
    assert(chunkCoords.map(_.getSeq[Int](
      log.schema.fieldIndex("coord")).head).toSet == (0 until 12000).toSet)
    assert(chunkCoords.forall(_.getAs[String]("path") == "/a"))
    // the base commit's log carries the node edit AND its 12000 keys
    val baseLog = repo.assets.readTxLog(base).collect()
    assert(baseLog.exists(r => r.getAs[String]("edit") != "chunk"))
    assert(baseLog.count(_.getAs[String]("edit") == "chunk") == 12000)
    // the driver-side reader agrees with the Spark reader (size permitting)
    repo.assets.readTxLogRowsDriver(tip, maxBytes = 64L * 1024 * 1024)
      .foreach { drv =>
        assert(drv.count(_.edit == "chunk") == 12000)
      }
    // diff across the fused commits reproduces the edit set
    val d = repo.diff(VersionRef.SnapshotVer(base),
      VersionRef.SnapshotVer(tip))
    assert(d.filter(col("edit") === "chunk").count() == 12000)
  }

  test("bulk amend and keys of a deleted node: the one fused job logs " +
      "every key, no tx-log job runs") {
    val repo = Repository.create(Store.local(tmpDir("fusedamend")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 4000))))
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(30000), Seq(1))
    s0.addArray("/gone", Seq(30000), Seq(1))
    stageRange(s0, "/a", 0, 12000, "C")
    s0.commit("base")
    def chunkKeys(id: String) = repo.assets.readTxLog(id)
      .filter(col("edit") === "chunk").select("path", "coord").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1).head))
    val s1 = repo.writableSession("main")
    stageRange(s1, "/a", 0, 12000, "A")
    s1.commit("draft")
    // a bulk amend: the replaced log's files are copied in, no job reads
    // or rewrites them
    val s2 = repo.writableSession("main")
    stageRange(s2, "/a", 6000, 18000, "B")
    var amended = ""
    val (amendSpans, amendStarts) = traced {
      amended = s2.commit("amended", amend = true)
    }
    assert(routesOf(amendSpans) == Seq("spark"))
    assert(finalizeJobs(amendSpans, amendStarts) == 0)
    val keys = chunkKeys(amended)
    assert(keys.length == 24000) // both edit sets, shared keys twice
    assert(keys.map(_._2).toSet == (0 until 18000).toSet)
    // keys of a node deleted in the session that staged them (a forked
    // writer's batch merged after the delete): logged with no manifest
    val s3 = repo.writableSession("main")
    val f = s3.fork()
    stageRange(f, "/gone", 0, 12000, "G")
    s3.deleteNode("/gone")
    s3.merge(f)
    stageRange(s3, "/a", 0, 12000, "D")
    var tip = ""
    val (spans, starts) = traced { tip = s3.commit("delete /gone") }
    assert(routesOf(spans) == Seq("spark"))
    assert(finalizeJobs(spans, starts) == 0)
    val logged = chunkKeys(tip)
    assert(logged.count(_._1 == "/gone") == 12000)
    assert(logged.count(_._1 == "/a") == 12000)
    val snap = repo.assets.readSnapshot(tip)
    assert(snap.nodes.forall(_.path != "/gone"))
    assert(repo.readonlySession(VersionRef.SnapshotVer(tip)).refs("/a")
      .filter(col("location").startsWith("file:///D/")).count() == 12000)
  }
}
