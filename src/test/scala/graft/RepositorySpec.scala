package graft

import org.apache.spark.sql.functions._
import graft.core.Ids
import graft.meta.ChunkRef
import graft.repo._
import graft.storage.Store

/** End-to-end spine (SURVEY §7 step 2): create → add array → write chunks
  * → commit → reopen at snapshot → read back → query values.
  */
class RepositorySpec extends SparkTestBase {

  test("minimum end-to-end slice: create, write, commit, time-travel read") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s = repo.writableSession("main")
    s.addGroup("/g")
    s.addArray("/g/temp", shape = Seq(512, 512, 512),
      chunkShape = Seq(64, 512, 512), dimNames = Seq("t", "y", "x"))

    // 8 chunks along axis 0; small payloads inline, one large native
    for (i <- 0 until 7)
      s.writeChunk("/g/temp", Seq(i, 0, 0), Array.fill(16)(i.toByte))
    val big = Array.fill(1024)(7.toByte)
    s.writeChunk("/g/temp", Seq(7, 0, 0), big)

    val snap1 = s.commit("first commit")
    assert(repo.lookupBranch("main").contains(snap1))

    // reopen read-only at the snapshot
    val ro = repo.readonlySession(VersionRef.SnapshotVer(snap1))
    assert(ro.node("/g/temp").exists(_.isArray))
    assert(ro.refs("/g/temp").count() == 8)
    // inline fast path
    assert(ro.getChunk("/g/temp", Seq(3, 0, 0)).get.toSeq ==
      Array.fill(16)(3.toByte).toSeq)
    // native ref path (uploaded object)
    assert(ro.getChunk("/g/temp", Seq(7, 0, 0)).get.toSeq == big.toSeq)
    // missing chunk
    assert(ro.getChunk("/g/temp", Seq(0, 0, 0)).isDefined)
    assert(ro.getChunkRef("/g/temp", Seq(6, 0, 0)).exists(_.kind == "inline"))

    // second commit: overwrite one chunk, delete another
    val s2 = repo.writableSession("main")
    s2.writeChunk("/g/temp", Seq(0, 0, 0), Array.fill(4)(42.toByte))
    s2.deleteChunk("/g/temp", Seq(1, 0, 0))
    val snap2 = s2.commit("second commit")

    val ro2 = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro2.refs("/g/temp").count() == 7) // 8 - deleted + overwrite
    assert(ro2.getChunk("/g/temp", Seq(0, 0, 0)).get.toSeq ==
      Array.fill(4)(42.toByte).toSeq)
    assert(ro2.getChunk("/g/temp", Seq(1, 0, 0)).isEmpty)

    // time travel: snap1 still sees the original state
    val old = repo.readonlySession(VersionRef.SnapshotVer(snap1))
    assert(old.refs("/g/temp").count() == 8)
    assert(old.getChunk("/g/temp", Seq(0, 0, 0)).get.toSeq ==
      Array.fill(16)(0.toByte).toSeq)

    // ancestry is ordered, most recent first
    val anc = repo.ancestry(VersionRef.Branch("main")).map(_.id)
    assert(anc.take(2) == Seq(snap2, snap1))
  }

  test("bulk staged refs + manifest splits + append rewrites one shard") {
    val cfg = GraftConfig(splits = Seq(SplitRule(".*", axis = 0,
      chunksPerSplit = 100)))
    val repo = Repository.create(Store.local(tmpDir("repo")), spark, cfg)
    val s = repo.writableSession("main")
    s.addArray("/long1d", shape = Seq(500L * 1000), chunkShape = Seq(1000))

    // 500 refs staged as a DataFrame — the distributed write path
    val refs = spark.range(500).select(
      array(col("id").cast("int")).as("coord"),
      lit("virtual").as("kind"),
      concat(lit("file:///ext/data-"), col("id")).as("location"),
      (col("id") * 8000).as("offset"),
      lit(8000L).as("length"))
    s.stageChunkRefs("/long1d", refs)
    val snap1 = s.commit("bulk ingest")

    val ro = repo.readonlySession(VersionRef.SnapshotVer(snap1))
    assert(ro.refs("/long1d").count() == 500)
    val node = ro.node("/long1d").get
    val manifests1 = ro.base.manifests(node.id)
    assert(manifests1.size == 5) // 500 chunks / 100 per split
    assert(manifests1.map(_.numRefs).sum == 500)

    // append at the tail: only the last shard is rewritten
    val s2 = repo.writableSession("main")
    s2.updateArray("/long1d", Seq(600L * 1000), Seq(1000))
    val more = spark.range(500, 600).select(
      array(col("id").cast("int")).as("coord"),
      lit("virtual").as("kind"),
      concat(lit("file:///ext/data-"), col("id")).as("location"),
      (col("id") * 8000).as("offset"),
      lit(8000L).as("length"))
    s2.stageChunkRefs("/long1d", more)
    val snap2 = s2.commit("append")
    val ro2 = repo.readonlySession(VersionRef.SnapshotVer(snap2))
    assert(ro2.refs("/long1d").count() == 600)
    val manifests2 = ro2.base.manifests(node.id)
    // old shards 0..4 carried over untouched? No: our merge rewrites all
    // *changed* arrays' manifests. Splits 0-4 come from the old manifest id,
    // split 5 from the new one only if unchanged splits are carried.
    assert(manifests2.map(_.numRefs).sum == 600)
    // extent pruning: point lookup touches only the shard containing coord
    assert(ro2.getChunkRef("/long1d", Seq(555)).exists(_.kind == "virtual"))
    // the credential-planning surface: every distinct virtual location
    val locs = ro2.allVirtualChunkLocations()
    assert(locs.size == 600 && locs.head == "file:///ext/data-0")
  }

  test("public failures carry stable machine-readable kinds (#2267)") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    def kindOf(body: => Any): String =
      intercept[GraftException](body).kind
    // ref_not_found
    assert(kindOf(repo.ancestry(VersionRef.Branch("nope"))) ==
      GraftError.RefNotFound)
    assert(kindOf(repo.resolveVersion(VersionRef.Tag("nope"))) ==
      GraftError.RefNotFound)
    assert(kindOf(repo.writableSession("nope")) == GraftError.RefNotFound)
    // node_not_found / out_of_bounds on the write surface
    val s = repo.writableSession("main")
    assert(kindOf(s.writeChunk("/nope", Seq(0), Array[Byte](1))) ==
      GraftError.NodeNotFound)
    s.addArray("/a", Seq(10), Seq(1))
    assert(kindOf(s.writeChunk("/a", Seq(99), Array[Byte](1))) ==
      GraftError.Bounds)
    // read_only
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(kindOf(ro.addGroup("/g")) == GraftError.ReadOnly)
    // conflict rides on ConflictException by construction
    assert(new ConflictException("x").kind == GraftError.Conflict)
    // kinds are part of the API: the generic default stays "error"
    assert(new GraftException("x").kind == GraftError.Generic)
  }

  test("branches, tags, diff, reset") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(100), Seq(10))
    s.writeChunk("/a", Seq(0), Array[Byte](1))
    val c1 = s.commit("c1")

    repo.createBranch("dev", c1)
    repo.createTag("v1", c1)
    assert(repo.listBranches() == Seq("dev", "main"))
    assert(repo.listTags() == Seq("v1"))

    val sd = repo.writableSession("dev")
    sd.writeChunk("/a", Seq(1), Array[Byte](2))
    val c2 = sd.commit("on dev")
    assert(repo.lookupBranch("dev").contains(c2))
    assert(repo.lookupBranch("main").contains(c1))

    // diff from c1 to dev tip: one chunk edit
    val d = repo.diff(VersionRef.SnapshotVer(c1), VersionRef.Branch("dev"))
    assert(d.filter(col("edit") === "chunk").count() == 1)

    // tags immutable + tombstoned on delete
    repo.deleteTag("v1")
    intercept[GraftException](repo.createTag("v1", c1))

    repo.resetBranch("dev", c1)
    assert(repo.lookupBranch("dev").contains(c1))
    repo.deleteBranch("dev")
    assert(repo.listBranches() == Seq("main"))
    intercept[GraftException](repo.deleteBranch("main"))
  }

  test("repo administration: metadata, status lock, default commit metadata, transaction") {
    import org.json4s._
    val repo = Repository.create(Store.local(tmpDir("admin")), spark)
    // metadata: replace vs merge, typed values round-trip
    repo.setMetadata(Map("owner" -> JString("data-eng"),
      "tier" -> JInt(2)))
    repo.updateMetadata(Map("tier" -> JInt(3),
      "tags" -> JArray(List(JString("prod")))))
    val md = repo.metadata
    assert(md("owner") == JString("data-eng") && md("tier") == JInt(3))
    assert(md("tags") == JArray(List(JString("prod"))))
    repo.setMetadata(Map("only" -> JBool(true)))
    assert(repo.metadata.keySet == Set("only"))

    // default commit metadata merges UNDER commit properties
    repo.setDefaultCommitMetadata(Map(
      "pipeline" -> JString("ingest-v2"), "team" -> JString("core")))
    val s1 = repo.writableSession("main")
    s1.addGroup("/g")
    val c1 = s1.commit("with defaults",
      properties = Map("team" -> "override"))
    val props = repo.lookupSnapshot(c1).typedProperties
    assert(props("pipeline") == JString("ingest-v2"))
    assert(props("team") == JString("override"))

    // read_only is an admin lock: new sessions AND in-flight commits
    val inFlight = repo.writableSession("main")
    inFlight.addGroup("/late")
    repo.setStatus(readOnly = true, "migration window")
    val e1 = intercept[GraftException](repo.writableSession("main"))
    assert(e1.kind == GraftError.ReadOnly)
    val e2 = intercept[GraftException](inFlight.commit("too late"))
    assert(e2.kind == GraftError.ReadOnly)
    val st = repo.status
    assert(st.readOnly && st.reason.contains("migration window") &&
      st.setAt.isDefined)
    // unlock; the blocked commit can proceed
    repo.setStatus(readOnly = false)
    assert(!repo.status.readOnly)
    inFlight.commit("landed after unlock")

    // transaction: scoped write + commit in one call
    val cid = repo.transaction("main", "tx add array") { s =>
      s.addArray("/t", Seq(10), Seq(5))
    }
    assert(repo.lookupBranch("main").contains(cid))
    assert(repo.readonlySession(VersionRef.Branch("main"))
      .node("/t").isDefined)
    // ops log records the admin actions
    val ops = repo.info().ops.map(_.op)
    assert(ops.contains("set_metadata") && ops.contains("set_status") &&
      ops.contains("set_default_commit_metadata"))
    assert(repo.specVersion == 2)
  }

  test("opening a repo at a missing local path fails without creating the directory") {
    // reference #2145: open must not force-create the directory
    val dir = java.nio.file.Paths.get(tmpDir("no-such-repo"), "nested")
    intercept[GraftException](
      Repository.open(Store.local(dir.toString), spark))
    assert(!java.nio.file.Files.exists(dir),
      "open() must not have created the directory")
  }

  test("move, reindex/shift, delete subtree") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s = repo.writableSession("main")
    s.addGroup("/g1")
    s.addArray("/g1/a", Seq(100), Seq(10))
    for (i <- 0 until 10) s.writeChunk("/g1/a", Seq(i), Array[Byte](i.toByte))
    s.commit("init")

    // move the group; array path follows
    val s2 = repo.writableSession("main")
    // moving a group inside its own subtree is rejected up front (#2102)
    val selfMove = intercept[GraftException](s2.moveNode("/g1", "/g1/sub"))
    assert(selfMove.kind == GraftError.Unsupported)
    intercept[GraftException](s2.moveNode("/g1", "/g1"))
    s2.moveNode("/g1", "/g2")
    s2.commit("move")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.node("/g1").isEmpty && ro.node("/g2/a").isDefined)
    assert(ro.refs("/g2/a").count() == 10)

    // shift coords by +2, shrinking bounds drop out-of-range
    val s3 = repo.writableSession("main")
    s3.shiftArray("/g2/a", Seq(2))
    s3.commit("shift")
    val ro3 = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro3.refs("/g2/a").count() == 8) // coords 2..9 survive
    assert(ro3.getChunk("/g2/a", Seq(2)).get.toSeq == Seq(0.toByte))
    assert(ro3.getChunk("/g2/a", Seq(0)).isEmpty)

    // delete subtree
    val s4 = repo.writableSession("main")
    s4.deleteNode("/g2")
    s4.commit("delete")
    val ro4 = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro4.node("/g2").isEmpty && ro4.node("/g2/a").isEmpty)
  }

  test("concurrent commits: rebase merges non-conflicting, solver resolves conflicts") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(100), Seq(10))
    s0.commit("init")

    // two sessions from the same tip
    val s1 = repo.writableSession("main")
    val s2 = repo.writableSession("main")
    s1.writeChunk("/a", Seq(0), Array[Byte](1))
    s2.writeChunk("/a", Seq(5), Array[Byte](2))
    s1.commit("s1")
    s2.commit("s2") // non-conflicting: rebases cleanly
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.refs("/a").count() == 2)

    // conflicting chunk writes: default solver keeps ours
    val a = repo.writableSession("main")
    val b = repo.writableSession("main")
    a.writeChunk("/a", Seq(3), Array[Byte](10))
    b.writeChunk("/a", Seq(3), Array[Byte](20))
    a.commit("a")
    b.commit("b") // UseOurs default: b's value wins
    assert(repo.readonlySession(VersionRef.Branch("main"))
      .getChunk("/a", Seq(3)).get.toSeq == Seq(20.toByte))

    // Fail policy: surfaces the conflict
    val c = repo.writableSession("main")
    val d = repo.writableSession("main")
    c.writeChunk("/a", Seq(4), Array[Byte](1))
    d.writeChunk("/a", Seq(4), Array[Byte](2))
    c.commit("c")
    intercept[ConflictException] {
      d.commit("d", solver = graft.vc.BasicConflictSolver(
        onChunkConflict = graft.vc.VersionSelection.Fail))
    }
    // UseTheirs: drops our conflicting edit
    d.commit("d retry", solver = graft.vc.BasicConflictSolver(
      onChunkConflict = graft.vc.VersionSelection.UseTheirs))
    assert(repo.readonlySession(VersionRef.Branch("main"))
      .getChunk("/a", Seq(4)).get.toSeq == Seq(1.toByte))
  }

  test("edit precedence is chronological across point and staged writes") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(10), Seq(1))
    s0.commit("init")

    def stagedRef(c: Int, loc: String) = spark.range(1).select(
      array(lit(c)).as("coord"), lit("virtual").as("kind"),
      lit(loc).as("location"), lit(0L).as("offset"), lit(1L).as("length"))

    val s = repo.writableSession("main")
    // point write, then staged batch on the same coord -> staged wins
    s.writeChunk("/a", Seq(0), Array[Byte](1))
    s.stageChunkRefs("/a", stagedRef(0, "file:///ext/later"))
    // staged batch, then point write on the same coord -> point wins
    s.stageChunkRefs("/a", stagedRef(1, "file:///ext/earlier"))
    s.writeChunk("/a", Seq(1), Array[Byte](9))
    s.commit("precedence")

    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.getChunkRef("/a", Seq(0)).exists(r =>
      r.kind == "virtual" && r.location == "file:///ext/later"))
    assert(ro.getChunkRef("/a", Seq(1)).exists(_.kind == "inline"))
  }

  test("session fork/merge (distributed write pattern)") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(100), Seq(10))
    s0.commit("init")

    val main = repo.writableSession("main")
    val f1 = main.fork()
    val f2 = main.fork()
    f1.writeChunk("/a", Seq(0), Array[Byte](1))
    f2.writeChunk("/a", Seq(1), Array[Byte](2))
    main.merge(f1)
    main.merge(f2)
    main.commit("merged")
    assert(repo.readonlySession(VersionRef.Branch("main"))
      .refs("/a").count() == 2)
  }

  test("virtual refs resolve through containers with checksum validation") {
    val ext = tmpDir("ext")
    val extFile = java.nio.file.Paths.get(ext, "blob.bin")
    java.nio.file.Files.write(extFile, Array.tabulate(100)(_.toByte))

    val resolver = graft.virt.VirtualChunkResolver("file://" + ext)
    val repo = Repository.create(Store.local(tmpDir("repo")), spark,
      GraftConfig(), resolver)
    val s = repo.writableSession("main")
    s.addArray("/v", Seq(100), Seq(10))
    s.setVirtualRef("/v", Seq(0), "file://" + extFile, offset = 10,
      length = 5)
    intercept[GraftException] {
      s.setVirtualRef("/v", Seq(1), "file:///not/registered", 0, 1)
      repo.readonlySession(VersionRef.Branch("main"))
      s.getChunk("/v", Seq(1)) // unregistered container must fail at fetch
    }
    s.commit("virtual")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.getChunk("/v", Seq(0)).get.toSeq ==
      (10 until 15).map(_.toByte).toSeq)
  }

  test("vcc:// relative virtual refs expand against named containers") {
    val ext = tmpDir("ext")
    val extFile = java.nio.file.Paths.get(ext, "blob.bin")
    java.nio.file.Files.write(extFile, Array.tabulate(50)(_.toByte))
    val resolver = new graft.virt.VirtualChunkResolver(Seq(
      graft.virt.VirtualChunkContainer("file://" + ext, name = "ext1",
        access = Some(graft.virt.LocalFileSystemAccess))))
    val repo = Repository.create(Store.local(tmpDir("repo")), spark,
      GraftConfig(), resolver)
    val s = repo.writableSession("main")
    s.addArray("/v", Seq(100), Seq(10))
    s.setVirtualRef("/v", Seq(0), "vcc://ext1/blob.bin", offset = 5,
      length = 3)
    intercept[GraftException](
      s.setVirtualRef("/v", Seq(1), "vcc://nope/blob.bin", 0, 1))
    s.commit("vcc")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    // driver fetch path
    assert(ro.getChunk("/v", Seq(0)).get.toSeq ==
      Seq(5.toByte, 6.toByte, 7.toByte))
    // executor fetch path (value plane over the same vcc ref)
    val v = graft.tensor.TensorPlane.values(ro, "/v", "int8")
    assert(v.count() == 3)
  }

  test("compareRefs: ahead/behind counts and merge base, git-style") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(10), Seq(1))
    val base = s.commit("base")
    repo.createBranch("dev", base)
    // main advances 2, dev advances 1
    for (i <- 0 until 2) {
      val m = repo.writableSession("main")
      m.writeChunk("/a", Seq(i), Array[Byte](1))
      m.commit(s"main $i")
    }
    val d = repo.writableSession("dev")
    d.writeChunk("/a", Seq(9), Array[Byte](2))
    d.commit("dev 0")
    val c = repo.compareRefs(VersionRef.Branch("main"),
      VersionRef.Branch("dev"))
    assert(c.mergeBase.contains(base))
    assert(c.ahead == 2 && c.behind == 1)
    // same ref: identical tips, zero distance
    val self = repo.compareRefs(VersionRef.Branch("dev"),
      VersionRef.Branch("dev"))
    assert(self.ahead == 0 && self.behind == 0 &&
      self.mergeBase.contains(self.aId))
  }

  test("mergeBranch: 3-way merge shares chunk objects; ff and no-op; solver policies") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(20), Seq(1))
    for (c <- 0 until 3) s.writeChunk("/a", Seq(c), Array[Byte](c.toByte))
    val base = s.commit("base")
    repo.createBranch("dev", base)
    repo.createBranch("late", base)
    // dev: new chunk, new array, a delete, and one side of a conflict
    val d = repo.writableSession("dev")
    d.writeChunk("/a", Seq(5), Array[Byte](55))
    d.writeChunk("/a", Seq(9), Array[Byte](91))
    d.addArray("/b", Seq(4), Seq(2))
    d.deleteChunk("/a", Seq(2))
    d.commit("dev work")
    // main diverges: its own chunk + the other side of the conflict
    val m = repo.writableSession("main")
    m.writeChunk("/a", Seq(7), Array[Byte](77))
    m.writeChunk("/a", Seq(9), Array[Byte](92))
    m.commit("main work")

    // default solver: src (dev) wins the double-updated coord
    val merged = repo.mergeBranch("dev", "main")
    val ro = repo.readonlySession(VersionRef.SnapshotVer(merged))
    assert(ro.getChunk("/a", Seq(5)).get.toSeq == Seq(55.toByte))
    assert(ro.getChunk("/a", Seq(7)).get.toSeq == Seq(77.toByte)) // dst kept
    assert(ro.getChunk("/a", Seq(9)).get.toSeq == Seq(91.toByte)) // src won
    assert(ro.getChunkRef("/a", Seq(2)).isEmpty) // delete merged
    assert(ro.node("/b").exists(_.isArray))      // creation merged
    // zero-copy: the merged ref IS dev's chunk object
    val devRef = repo.readonlySession(VersionRef.Branch("dev"))
      .getChunkRef("/a", Seq(5)).get
    assert(ro.getChunkRef("/a", Seq(5)).get.chunk_id == devRef.chunk_id)
    // provenance recorded on the merge commit
    assert(repo.ancestry(VersionRef.Branch("main")).head.id == merged)

    // already-merged: no new commit
    assert(repo.mergeBranch("dev", "main") == merged)
    // fast-forward: 'late' sat at the base, main merges in as a reset
    val ffTip = repo.mergeBranch("main", "late")
    assert(ffTip == merged &&
      repo.lookupBranch("late").contains(merged))

    // UseTheirs: dst keeps its version of the double-updated coord
    repo.createBranch("dev2", merged)
    val d2 = repo.writableSession("dev2")
    d2.writeChunk("/a", Seq(9), Array[Byte](93))
    d2.commit("dev2")
    val m2 = repo.writableSession("main")
    m2.writeChunk("/a", Seq(9), Array[Byte](94))
    m2.commit("main again")
    repo.mergeBranch("dev2", "main", solver = graft.vc.BasicConflictSolver(
      onChunkConflict = graft.vc.VersionSelection.UseTheirs))
    val ro2 = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro2.getChunk("/a", Seq(9)).get.toSeq == Seq(94.toByte))

    // REPEATED merge: the edit base is the last ABSORBED src tip (via
    // the mergedFrom link), so dev2's old chunk-9 edit (93, resolved
    // 'theirs' above) must NOT be replayed and clobber main's 94 —
    // only the genuinely new edit (chunk 12) merges
    val d3 = repo.writableSession("dev2")
    d3.writeChunk("/a", Seq(12), Array[Byte](12))
    d3.commit("dev2 more")
    repo.mergeBranch("dev2", "main")
    val ro3 = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro3.getChunk("/a", Seq(9)).get.toSeq == Seq(94.toByte),
      "stale pre-merge edit resurrected on re-merge")
    assert(ro3.getChunk("/a", Seq(12)).get.toSeq == Seq(12.toByte))

    // delete-vs-edit: src edits chunks of an array dst deleted — a
    // refusal naming the path, not a NodeNotFound crash
    repo.createBranch("del",
      repo.resolveVersion(VersionRef.Branch("main")))
    val sd = repo.writableSession("del")
    sd.writeChunk("/b", Seq(0), Array[Byte](7))
    sd.commit("edit b on del")
    val dd = repo.writableSession("main")
    dd.deleteNode("/b")
    dd.commit("drop b on main")
    val e4 = intercept[ConflictException](repo.mergeBranch("del", "main"))
    assert(e4.getMessage.contains("/b") &&
      e4.getMessage.contains("deleted"))
  }

  test("mergeBranch property: random disjoint edits merge to exactly the union") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 2) {
      val repo = Repository.create(
        Store.local(tmpDir(s"mprop$trial")), spark)
      val s = repo.writableSession("main")
      s.addArray("/a", Seq(100), Seq(1))
      val baseVals = (0 until 20).map(i => i -> rnd.nextInt(100)).toMap
      baseVals.foreach { case (c, v) =>
        s.writeChunk("/a", Seq(c), Array[Byte](v.toByte)) }
      val base = s.commit("base")
      repo.createBranch("f", base)
      // src: fresh writes + deletes of base coords
      val sf = repo.writableSession("f")
      val srcWrites = (30 until 45).map(c => c -> rnd.nextInt(100)).toMap
      srcWrites.foreach { case (c, v) =>
        sf.writeChunk("/a", Seq(c), Array[Byte](v.toByte)) }
      val srcDels = Seq(0, 1, 2)
      srcDels.foreach(c => sf.deleteChunk("/a", Seq(c)))
      sf.commit("src edits")
      // dst: disjoint writes + its own delete
      val sm = repo.writableSession("main")
      val dstWrites = (50 until 60).map(c => c -> rnd.nextInt(100)).toMap
      dstWrites.foreach { case (c, v) =>
        sm.writeChunk("/a", Seq(c), Array[Byte](v.toByte)) }
      sm.deleteChunk("/a", Seq(5))
      sm.commit("dst edits")
      repo.mergeBranch("f", "main")
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      val expect = (baseVals -- srcDels - 5) ++ srcWrites ++ dstWrites
      val got = ro.refs("/a").select("coord").collect()
        .map(_.getSeq[Int](0).head).toSet
      assert(got == expect.keySet, s"trial $trial coords")
      expect.foreach { case (c, v) =>
        assert(ro.getChunk("/a", Seq(c)).get.head == v.toByte,
          s"trial $trial coord $c") }
    }
  }

  test("mergeBranch: many-array merge stages all chunk edits in one batch") {
    val repo = Repository.create(Store.local(tmpDir("mmany")), spark)
    val nArrays = 60
    val s = repo.writableSession("main")
    for (i <- 0 until nArrays) {
      s.addArray(s"/a$i", Seq(4), Seq(1))
      s.writeChunk(s"/a$i", Seq(0), Array[Byte](i.toByte))
    }
    val base = s.commit("base")
    repo.createBranch("f", base)
    // src edits EVERY array: one overwrite, one fresh coord, one delete
    val sf = repo.writableSession("f")
    for (i <- 0 until nArrays) {
      sf.writeChunk(s"/a$i", Seq(0), Array[Byte]((100 + i % 20).toByte))
      sf.writeChunk(s"/a$i", Seq(2), Array[Byte]((50 + i % 20).toByte))
      if (i % 3 == 0) sf.deleteChunk(s"/a$i", Seq(0))
    }
    sf.commit("src edits everywhere")
    // dst adds its own disjoint edit so the merge is a real 3-way
    val sm = repo.writableSession("main")
    sm.writeChunk("/a0", Seq(3), Array[Byte](7))
    sm.commit("dst edit")
    repo.mergeBranch("f", "main")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    for (i <- 0 until nArrays) {
      val coords = ro.refs(s"/a$i").select("coord").collect()
        .map(_.getSeq[Int](0).head).toSet
      val expect = (if (i % 3 == 0) Set(2) else Set(0, 2)) ++
        (if (i == 0) Set(3) else Set.empty[Int])
      assert(coords == expect, s"array $i coords")
      if (i % 3 != 0)
        assert(ro.getChunk(s"/a$i", Seq(0)).get.head ==
          (100 + i % 20).toByte, s"array $i overwrite")
      assert(ro.getChunk(s"/a$i", Seq(2)).get.head ==
        (50 + i % 20).toByte, s"array $i fresh")
    }
    assert(ro.getChunk("/a0", Seq(3)).get.head == 7.toByte)
  }

  test("ops log records operations newest-first with monotone timestamps") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(10), Seq(1))
    val c1 = s.commit("c1")
    repo.createTag("t1", c1)
    repo.createBranch("b1", c1)
    val ops = repo.opsLog()
    assert(ops.map(_.op).take(3) == Seq("create_branch", "create_tag", "commit"))
    // strictly non-increasing timestamps (shuttle invariant, test_shuttle.rs)
    val ts = ops.map(_.ts)
    assert(ts == ts.sorted.reverse)
  }

  test("repo config persists in the pointer and applies at open") {
    val dir = tmpDir("cfg")
    val cfg = GraftConfig(inlineThresholdBytes = 64,
      splits = Seq(SplitRule("/big.*", 0, 10)),
      preloads = Seq(PreloadRule("/hot.*", 5000)))
    Repository.create(Store.local(dir), spark, cfg)

    // open with no explicit config -> the stored one applies (this is the
    // path every connector/catalog open takes)
    val reopened = Repository.open(Store.local(dir), spark)
    assert(reopened.config == cfg)

    // stored splits drive the write path: 25 chunks / 10 per split = 3
    val s = reopened.writableSession("main")
    s.addArray("/bigone", Seq(25), Seq(1))
    for (c <- 0 until 25)
      s.writeChunk("/bigone", Seq(c), Array.fill(100)(c.toByte))
    s.commit("splits from stored config")
    val node = reopened.readonlySession(VersionRef.Branch("main"))
      .node("/bigone").get
    assert(reopened.info().snapshots.nonEmpty)
    val manifests = reopened.readonlySession(VersionRef.Branch("main"))
      .base.manifests(node.id)
    assert(manifests.map(_.split).distinct.size == 3)

    // an explicit config is a runtime override and wins wholesale
    val overridden = Repository.open(Store.local(dir), spark, GraftConfig())
    assert(overridden.config == GraftConfig())

    // saveConfig: persisted for future opens, recorded in the ops log
    reopened.saveConfig(cfg.copy(inlineThresholdBytes = 128))
    val again = Repository.open(Store.local(dir), spark)
    assert(again.config.inlineThresholdBytes == 128)
    assert(again.config.splits == cfg.splits)
    assert(again.info().ops.last.op == "update_config")
  }

  test("JSON-typed snapshot properties round-trip nested values") {
    import org.json4s._
    import org.json4s.JsonDSL._
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s = repo.writableSession("main")
    s.addGroup("/g")
    val props: Map[String, JValue] = Map(
      "run_id" -> JInt(42),
      "validated" -> JBool(true),
      "score" -> JDouble(0.875),
      "tags" -> JArray(List(JString("nightly"), JString("v2"))),
      "source" -> (("dataset" -> "era5") ~ ("window" ->
        (("start" -> "2020-01-01") ~ ("days" -> 31)))),
      "note" -> JString("plain string"))
    val id = s.commitJson("typed props", props)

    // full fidelity through storage: nested objects, arrays, numbers,
    // booleans — not stringified leaves
    val back = repo.lookupSnapshot(id).typedProperties
    assert(back == props, s"lossy round-trip: $back")
    assert((back("source") \ "window" \ "days") == JInt(31))

    // legacy plain-string properties still decode (as JSON strings)
    val s2 = repo.writableSession("main")
    s2.addGroup("/h")
    val id2 = s2.commit("legacy props",
      Map("owner" -> "alice", "build" -> "123"))
    val legacy = repo.lookupSnapshot(id2).typedProperties
    assert(legacy("owner") == JString("alice"))
    // documented edge (SnapshotProps.read): a plain-API value that IS
    // valid JSON decodes typed — "123" is the JSON number 123. Callers
    // needing string fidelity use commitJson with JString, which quotes:
    assert(legacy("build") == JInt(123))
    val s3 = repo.writableSession("main")
    s3.addGroup("/i")
    val id3 = s3.commitJson("quoted", Map("build" -> JString("123")))
    assert(repo.lookupSnapshot(id3).typedProperties("build") ==
      JString("123"))
  }

  test("config map round-trips through toMap/fromMap") {
    val cfg = GraftConfig(inlineThresholdBytes = 1, opsRingSize = 7,
      maxChunkRefsPerCommit = 123L, commitRetries = 3,
      commitRetriesHardCapX = 2,
      splits = Seq(SplitRule("a|b.*", 1, 2), SplitRule(".*", 0, 9)),
      preloads = Seq(PreloadRule("x\\|y", 42)), preloadMaxArrays = 2,
      manifestFetchConcurrency = 4)
    assert(GraftConfig.fromMap(cfg.toMap) == cfg)
    assert(GraftConfig.fromMap(Map.empty) == GraftConfig())
  }

  test("concurrent manifest prefetch (#2274) merges small commits " +
      "identically") {
    // manifestFetchConcurrency > 1 prefetches previous shards on a
    // bounded pool before the driver-side merge — results must be
    // byte-identical to the serial default
    val cfg = GraftConfig(splits = Seq(SplitRule(".*", 0, 5)),
      manifestFetchConcurrency = 4)
    val repo = Repository.create(Store.local(tmpDir("repo")), spark, cfg)
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(40), Seq(1)) // 8 shards of 5 chunks
    for (i <- 0 until 40)
      s0.writeChunk("/a", Seq(i), Array[Byte](i.toByte))
    s0.commit("bulk")
    // point commit touching MANY shards → many previous-shard fetches
    val s1 = repo.writableSession("main")
    for (i <- Seq(0, 7, 14, 21, 28, 35))
      s1.writeChunk("/a", Seq(i), Array[Byte]((100 + i).toByte))
    s1.commit("points across shards")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.refs("/a").count() == 40)
    for (i <- 0 until 40) {
      val expected = if (Set(0, 7, 14, 21, 28, 35)(i)) (100 + i) else i
      assert(ro.getChunk("/a", Seq(i)).get.head == expected.toByte, s"i=$i")
    }
  }

  test("small-commit fast path holds over a 30k-ref shard: zero Spark " +
      "jobs, merge byte-identical") {
    // regression anchor from the round-12 scale soak: with the old 10 k
    // shard bound, a 5 M-ref repo (50 k-ref splits) dropped every
    // interactive point commit onto the Spark flush path — 33 ms
    // commits became ~930 ms. The bound is now 250 k
    // (Session.SmallCommitMaxShardRefs); this pins that a point commit
    // over a 30 k-ref shard (a) runs NO Spark job and (b) merges
    // exactly as the Spark path would.
    val cfg = GraftConfig(splits = Seq(SplitRule(".*", 0, 40000)))
    val repo = Repository.create(Store.local(tmpDir("repo")), spark, cfg)
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(30000), Seq(1)) // one 30 k-ref split
    s0.stageChunkRefs("/a", spark.range(0, 30000).select(
      array(col("id").cast("int")).as("coord"),
      lit("virtual").as("kind"),
      concat(lit("file:///ext/"), col("id")).as("location"),
      lit(0L).as("offset"), lit(10L).as("length")))
    s0.commit("bulk 30k")

    // no Spark job between the markers: not the open, the point writes
    // or the commit (nor any future the flush might spawn)
    val leaked = jobsDuring {
      val s1 = repo.writableSession("main")
      for (i <- Seq(3, 14159, 29999))
        s1.writeChunk("/a", Seq(i), Array[Byte](7, 7))
      s1.commit("interactive points")
    }
    assert(leaked == 0, s"fast path leaked $leaked Spark job(s)")

    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.refs("/a").count() == 30000)
    for (i <- Seq(3, 14159, 29999))
      assert(ro.getChunk("/a", Seq(i)).get.sameElements(Array[Byte](7, 7)),
        s"i=$i")
    assert(ro.refs("/a").filter(col("kind") === "virtual").count() == 29997)
  }

  test("split cache is bounded by TOTAL cached refs; evicted and " +
      "oversized splits still resolve") {
    // memory-safety pin for the round-12 cache widening: the per-split cap
    // rose 10k -> 250k, so the LRU must bound TOTAL refs (1M), not entry
    // count — otherwise 256 x 250k-ref splits could hold ~25 GB of boxed
    // maps on the driver
    val am = new graft.meta.AssetManager(Store.local(tmpDir("amcache")), spark)
    def refs(n: Int, tag: Int) = (0 until n).map(i =>
      graft.meta.ChunkRef.virtualRef("node", Seq(tag, i),
        s"file:///x/$tag/$i", 0L, 8L))
    import graft.meta.AssetManager.FlushRow
    val grid = Map("node" -> Seq(100, 250001))
    // 30 shards x 60k refs = 1.8M refs pushed through the cache
    val mrefs = (0 until 30).map { t =>
      am.writeManifestDriver(f"m$t%04d",
        refs(60000, t).map(FlushRow(_, t, 0.0)), grid)._1("node").head
    }
    val (entries, total) = am.splitCacheStats
    assert(total <= 1000000L, s"total cached refs $total over the bound")
    assert(entries > 0 && entries < 30, s"$entries entries (expected LRU)")
    // an EVICTED shard (the eldest) still resolves — reloaded driver-side
    val r0 = am.lookupRef(mrefs.head, "node", Seq(0, 123))
    assert(r0.exists(_.location == "file:///x/0/123"))
    val (_, total2) = am.splitCacheStats
    assert(total2 <= 1000000L, s"reload broke the bound: $total2")
    // an OVERSIZED split (> per-split cap) is never cached but resolves
    // through the stats-pruned scan path
    val big = am.writeManifestDriver("mbig",
      refs(250001, 99).map(FlushRow(_, 99, 0.0)), grid)._1("node").head
    val statsBefore = am.splitCacheStats
    val rb = am.lookupRef(big, "node", Seq(99, 250000))
    assert(rb.exists(_.location == "file:///x/99/250000"))
    assert(am.splitCacheStats == statsBefore, "oversized split was cached")
  }

  test("deep history: diff, storage stats and time travel over 100+ " +
      "commits read whole chains, not per-commit plans") {
    // regression anchor for the multi-path chain reads (readTxLogs,
    // committedRefsParts): a 100-commit chain must produce the same
    // answers the old one-leg-per-commit unions did
    val repo = Repository.create(Store.local(tmpDir("repo")), spark)
    val s0 = repo.writableSession("main")
    s0.addArray("/d", Seq(1000), Seq(10)) // 100 chunks, 80 B inline each
    for (c <- 0 until 10)
      s0.writeChunk("/d", Seq(c), Array.fill(8)(c.toByte))
    val first = s0.commit("base")
    val n = 100
    for (i <- 0 until n) {
      val s = repo.writableSession("main")
      s.writeChunk("/d", Seq(i % 100), Array.fill(8)((i % 127).toByte))
      s.commit(s"edit $i")
    }
    assert(repo.ancestry(VersionRef.Branch("main")).size == n + 2)
    // diff across the whole chain: distinct (chunk, coord) edits = the
    // 100 distinct coords touched
    val edits = repo.diff(VersionRef.SnapshotVer(first),
      VersionRef.Branch("main"))
    assert(edits.filter(col("edit") === graft.meta.EditRow.Chunk)
      .select("coord").distinct().count() == 100)
    // storage stats across every live snapshot: inline identity is
    // (node, coord), so 100 distinct cells regardless of version count
    val stats = graft.ops.Stats.repoChunksStorage(repo)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats(ChunkRef.KindInline) == 100, stats.toString)
    // time travel into the middle of the chain still resolves point reads
    val mid = repo.ancestry(VersionRef.Branch("main"))(n / 2).id
    val ro = repo.readonlySession(VersionRef.SnapshotVer(mid))
    assert(ro.getChunk("/d", Seq(0)).isDefined)
  }
}
