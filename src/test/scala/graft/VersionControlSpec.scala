package graft

import graft.repo._
import graft.storage.Store
import graft.vc._

/** Amend, the conflict-class matrix (FIXTURES A6), and the A7 history
  * scenario (commits + branch + tags + amend + reset + expire + GC with a
  * full expected-ancestry oracle).
  */
class VersionControlSpec extends SparkTestBase {

  private def freshRepo() =
    Repository.create(Store.local(tmpDir("repo")), spark)

  test("amend replaces the branch tip and detaches the old snapshot") {
    val repo = freshRepo()
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(10), Seq(1))
    val c1 = s.commit("c1")
    val s2 = repo.writableSession("main")
    s2.writeChunk("/a", Seq(0), Array[Byte](1))
    val c2 = s2.commit("c2 draft")
    val s3 = repo.writableSession("main")
    s3.writeChunk("/a", Seq(1), Array[Byte](2))
    val c3 = s3.commit("c2 final", amend = true)

    val anc = repo.ancestry(VersionRef.Branch("main"))
    assert(anc.map(_.message).take(2) == Seq("c2 final", "c1"))
    assert(!anc.map(_.id).contains(c2)) // draft gone from history
    assert(repo.info().snapshots.forall(_.id != c2))
    // amended commit carries BOTH chunk edits (merged over c2's state)
    val ro = repo.readonlySession(VersionRef.SnapshotVer(c3))
    assert(ro.refs("/a").count() == 2)
    // amend refuses to run over a moved tip
    val s4 = repo.writableSession("main")
    val s5 = repo.writableSession("main")
    s4.writeChunk("/a", Seq(2), Array[Byte](3))
    s4.commit("interloper")
    s5.writeChunk("/a", Seq(3), Array[Byte](4))
    intercept[ConflictException](s5.commit("stale amend", amend = true))
  }

  test("amend absorbs the replaced tip's tx log: diff spans both edit sets") {
    val repo = freshRepo()
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(10), Seq(1))
    val c1 = s.commit("c1")
    val s2 = repo.writableSession("main")
    s2.writeChunk("/a", Seq(0), Array[Byte](1))
    s2.commit("draft") // edits chunk 0
    val s3 = repo.writableSession("main")
    s3.writeChunk("/a", Seq(1), Array[Byte](2))
    var tip = ""
    // a point-only amend copies the replaced log's files: no Spark job
    val amendJobs = jobsDuring {
      tip = s3.commit("final", amend = true) // edits chunk 1, replaces draft
    }
    assert(amendJobs == 0, s"point-only amend ran $amendJobs Spark jobs")
    // the amended log itself holds both edit sets
    val logged = repo.assets.readTxLogRowsDriver(tip).get
      .filter(_.edit == graft.meta.EditRow.Chunk).map(_.coord).toSet
    assert(logged == Set(Seq(0), Seq(1)), s"amended log: $logged")
    // diff from the surviving parent must report BOTH chunk edits
    val d = repo.diff(VersionRef.SnapshotVer(c1), VersionRef.Branch("main"))
    val chunkCoords = d.filter(org.apache.spark.sql.functions.col("edit") ===
        graft.meta.EditRow.Chunk)
      .select("coord").collect().map(_.getSeq[Int](0)).toSet
    assert(chunkCoords == Set(Seq(0), Seq(1)))
  }

  test("rebase over an amended commit reports a node edit both of its " +
      "logs share once") {
    val repo = freshRepo()
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(10), Seq(1))
    s.commit("c1")
    val ours = repo.writableSession("main") // opened before the amend
    val d1 = repo.writableSession("main")
    d1.updateArray("/a", Seq(10), Seq(1), userData = "draft")
    d1.commit("draft")
    val d2 = repo.writableSession("main")
    d2.updateArray("/a", Seq(10), Seq(1), userData = "final")
    val amended = d2.commit("final", amend = true)
    // the amended log lists the same update_array edit twice
    val theirRows = repo.assets.readTxLogRowsDriver(amended).get
    assert(theirRows.count(_.edit == graft.meta.EditRow.UpdateArray) == 2)
    ours.updateArray("/a", Seq(10), Seq(1), userData = "ours")
    ours.writeChunk("/a", Seq(3), Array[Byte](3))
    val expected = Seq(Conflict.ChunksUpdatedInUpdatedArray,
      Conflict.ZarrMetadataDoubleUpdate)
    // the Spark detector over the amended log: each conflict once
    val viaSpark = ConflictDetector.detect(ours, repo.assets.readTxLog(amended))
    assert(viaSpark.map(_.kind).sorted == expected, s"detect: $viaSpark")
    // the rebase takes the driver detector; it sees each conflict once too
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Conflict]]()
    val recorder = new ConflictSolver {
      def solve(session: Session, theirLog: org.apache.spark.sql.DataFrame,
                conflicts: Seq[Conflict]): Unit = seen += conflicts
    }
    ours.commit("ours", solver = recorder)
    assert(seen.size == 1 && seen.head.map(_.kind).sorted == expected,
      s"rebase saw $seen")
  }

  test("detached commit registers a snapshot without moving the branch") {
    val repo = freshRepo()
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(10), Seq(1))
    val c1 = s.commit("c1")
    val s2 = repo.writableSession("main")
    s2.writeChunk("/a", Seq(0), Array[Byte](1))
    val det = s2.commitDetached("scratch work")
    // branch untouched; snapshot reachable by id with full ancestry
    assert(repo.lookupBranch("main").get == c1)
    assert(repo.lookupSnapshot(det).message == "scratch work")
    assert(repo.ancestry(VersionRef.SnapshotVer(det)).map(_.id).contains(c1))
    val ro = repo.readonlySession(VersionRef.SnapshotVer(det))
    assert(ro.getChunk("/a", Seq(0)).get.head == 1.toByte)
    // the session advanced detached: further edits build on the snapshot
    s2.writeChunk("/a", Seq(1), Array[Byte](2))
    val det2 = s2.commitDetached("more scratch")
    assert(repo.ancestry(VersionRef.SnapshotVer(det2)).map(_.id)
      .take(2) == Seq(det2, det))
    // a branch can be pointed at the anonymous lineage later
    repo.createBranch("rescued", det2)
    assert(repo.readonlySession(VersionRef.Branch("rescued"))
      .refs("/a").count() == 2)
  }

  test("feature flags gate move_node and amend; toggling goes through CAS") {
    val repo = freshRepo()
    val s = repo.writableSession("main")
    s.addGroup("/g")
    s.commit("init")
    repo.setFeatureFlag(repo.Flags.MoveNode, enabled = false)
    val s2 = repo.writableSession("main")
    val e = intercept[GraftException](s2.moveNode("/g", "/h"))
    assert(e.getMessage.contains("enable-move-node"))
    repo.setFeatureFlag(repo.Flags.Amend, enabled = false)
    val s3 = repo.writableSession("main")
    s3.addGroup("/x")
    intercept[GraftException](s3.commit("no amend", amend = true))
    // re-enabling restores the ops
    repo.setFeatureFlag(repo.Flags.MoveNode, enabled = true)
    val s4 = repo.rearrangeSession("main")
    s4.moveNode("/g", "/h")
    s4.commit("moved")
    assert(repo.readonlySession(VersionRef.Branch("main"))
      .node("/h").isDefined)
  }

  test("rebase hooks fire around each rebase pass of the commit loop") {
    val repo = freshRepo()
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(10), Seq(1))
    s0.commit("init")
    val writer = repo.writableSession("main")
    writer.writeChunk("/a", Seq(0), Array[Byte](1))
    // concurrent commit moves the tip under `writer`
    val other = repo.writableSession("main")
    other.writeChunk("/a", Seq(5), Array[Byte](9))
    other.commit("interloper")
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    writer.commit("mine", hooks = RebaseHooks(
      beforeRebase = (_, tip) => calls += s"before:$tip",
      afterRebase = (_, tip) => calls += s"after:$tip"))
    assert(calls.size == 2)
    assert(calls(0).startsWith("before:") && calls(1).startsWith("after:"))
    // a vetoing before-hook fails the commit
    val w2 = repo.writableSession("main")
    w2.writeChunk("/a", Seq(1), Array[Byte](1))
    val other2 = repo.writableSession("main")
    other2.writeChunk("/a", Seq(6), Array[Byte](9))
    other2.commit("interloper 2")
    intercept[IllegalStateException](w2.commit("vetoed",
      hooks = RebaseHooks(beforeRebase = (_, _) =>
        throw new IllegalStateException("policy veto"))))
  }

  test("UseTheirs rebase over SEVERAL missed commits: an exclusion added " +
      "while solving the first does not derail detection of the rest") {
    // regression (round-13 review): prefetching missed tx-log rows froze
    // the point-only decision before the solve loop, but UseTheirs adds
    // an exclusion mid-loop — the next commit's prefetched rows then hit
    // detectLocal's point-only precondition and the whole commit failed
    val repo = freshRepo()
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(64), Seq(1))
    s0.commit("init")
    val mine = repo.writableSession("main")
    mine.writeChunk("/a", Seq(0), Array[Byte](1)) // will conflict
    mine.writeChunk("/a", Seq(10), Array[Byte](2)) // mine alone
    // two commits land underneath: the FIRST conflicts, the second not
    locally {
      val b1 = repo.writableSession("main")
      b1.writeChunk("/a", Seq(0), Array[Byte](7))
      b1.commit("theirs: conflicting chunk 0")
      val b2 = repo.writableSession("main")
      b2.writeChunk("/a", Seq(20), Array[Byte](8))
      b2.commit("theirs: unrelated chunk 20")
    }
    mine.commit("rebased",
      solver = BasicConflictSolver(VersionSelection.UseTheirs))
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.getChunk("/a", Seq(0)).get.head == 7) // theirs won
    assert(ro.getChunk("/a", Seq(10)).get.head == 2) // mine survived
    assert(ro.getChunk("/a", Seq(20)).get.head == 8) // unrelated intact
  }

  test("conflict matrix: each class is detected; solver policies apply") {
    val repo = freshRepo()
    val s0 = repo.writableSession("main")
    s0.addGroup("/g")
    s0.addArray("/g/a", Seq(10), Seq(1))
    s0.addArray("/g/b", Seq(10), Seq(1))
    s0.commit("base")

    // new_node_conflicts_with_existing_node
    val a1 = repo.writableSession("main"); val b1 = repo.writableSession("main")
    a1.addGroup("/g/new"); b1.addGroup("/g/new")
    a1.commit("a1")
    intercept[ConflictException](b1.commit("b1"))

    // zarr_metadata_double_update
    val a2 = repo.writableSession("main"); val b2 = repo.writableSession("main")
    a2.updateArray("/g/a", Seq(20), Seq(1))
    b2.updateArray("/g/a", Seq(30), Seq(1))
    a2.commit("a2")
    intercept[ConflictException](b2.commit("b2"))

    // delete_of_updated_array: allowed by default, fails with the flag
    val a3 = repo.writableSession("main"); val b3 = repo.writableSession("main")
    a3.updateArray("/g/b", Seq(20), Seq(1))
    b3.deleteNode("/g/b")
    a3.commit("a3")
    intercept[ConflictException] {
      b3.commit("b3", solver = BasicConflictSolver(
        failOnDeleteOfUpdatedArray = true))
    }
    b3.commit("b3 retry") // default policy: our delete wins
    assert(repo.readonlySession(VersionRef.Branch("main")).node("/g/b").isEmpty)

    // chunks_updated_in_deleted_array: resolvable, deleted array stays gone
    val a4 = repo.writableSession("main"); val b4 = repo.writableSession("main")
    a4.deleteNode("/g/a")
    b4.writeChunk("/g/a", Seq(0), Array[Byte](1))
    a4.commit("a4")
    b4.commit("b4") // our chunk lands in a deleted array -> dropped
    assert(repo.readonlySession(VersionRef.Branch("main")).node("/g/a").isEmpty)

    // move conflicts cannot be rebased (either direction)
    val s5 = repo.writableSession("main")
    s5.addGroup("/m1")
    s5.commit("setup move")
    val mover = repo.writableSession("main")
    val other = repo.writableSession("main")
    mover.moveNode("/m1", "/m2")
    other.addGroup("/other")
    other.commit("other")
    intercept[ConflictException](mover.commit("mover"))
  }

  test("history scenario: 8 commits, branch, tags, reset, expire, gc") {
    val repo = freshRepo()
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(100), Seq(1))
    s0.commit("c0")
    val commits = (1 to 7).map { i =>
      val s = repo.writableSession("main")
      s.writeChunk("/a", Seq(i), Array[Byte](i.toByte))
      s.commit(s"c$i")
    }
    val c4 = commits(3) // "c4"
    repo.createBranch("dev", c4)
    repo.createTag("v1", commits(1))
    repo.createTag("v2", commits(5))
    repo.deleteTag("v1")

    // dev advances independently
    val d = repo.writableSession("dev")
    d.writeChunk("/a", Seq(50), Array[Byte](9))
    val dTip = d.commit("dev work")
    assert(repo.lookupBranch("dev").contains(dTip))
    assert(repo.ancestry(VersionRef.Branch("dev")).map(_.message).take(2) ==
      Seq("dev work", "c4"))

    // diff across the fork: main has c5..c7, dev has dev-work
    val diffMain = repo.diff(VersionRef.SnapshotVer(c4),
      VersionRef.Branch("main"))
    assert(diffMain.filter(org.apache.spark.sql.functions
      .col("edit") === "chunk").count() == 3)

    // reset dev back, expire everything older than v2's commit, then GC
    repo.resetBranch("dev", c4)
    val cutoff = java.time.Instant.parse(
      repo.info().snapshotInfo(commits(5)).get.flushedAt)
    graft.ops.GC.expire(repo, cutoff)
    val ancAfter = repo.ancestry(VersionRef.Branch("main")).map(_.message)
    assert(ancAfter == Seq("c7", "c6")) // cutoff = c6's ts; c6 retained
    // v2 and the dev fork each pin their own (possibly squashed) chains
    assert(repo.ancestry(VersionRef.Tag("v2")).nonEmpty)
    assert(repo.ancestry(VersionRef.Branch("dev")).map(_.message).head == "c4")
    val gc = graft.ops.GC.garbageCollect(repo,
      java.time.Instant.now().plusSeconds(60))
    // everything still pointed must read fine
    assert(repo.readonlySession(VersionRef.Branch("main"))
      .refs("/a").count() == 7)
    assert(repo.readonlySession(VersionRef.Branch("dev"))
      .refs("/a").count() == 4)
    assert(repo.readonlySession(VersionRef.Tag("v2"))
      .refs("/a").count() == 6)
  }

  test("rearrange session allows moves and nothing else") {
    val repo = freshRepo()
    val s = repo.writableSession("main")
    s.addGroup("/g")
    s.addArray("/g/a", Seq(10), Seq(1))
    s.commit("init")
    val rs = repo.rearrangeSession("main")
    intercept[GraftException](rs.addGroup("/x"))
    intercept[GraftException](rs.writeChunk("/g/a", Seq(0), Array[Byte](1)))
    intercept[GraftException](rs.deleteNode("/g/a"))
    rs.moveNode("/g", "/h")
    rs.commit("rearranged")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.node("/h/a").isDefined && ro.node("/g").isEmpty)
  }

  test("preload rules warm the split cache on session open") {
    val repo = Repository.create(Store.local(tmpDir("repo")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 10)),
        preloads = Seq(PreloadRule("/hot.*"))))
    val s = repo.writableSession("main")
    s.addArray("/hot", Seq(100), Seq(1))
    s.addArray("/cold", Seq(100), Seq(1))
    for (i <- 0 until 30) {
      s.writeChunk("/hot", Seq(i), Array[Byte](i.toByte))
      s.writeChunk("/cold", Seq(i), Array[Byte](i.toByte))
    }
    s.commit("data")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    // correctness is unchanged; the warm cache serves these lookups
    assert(ro.getChunk("/hot", Seq(17)).get.toSeq == Seq(17.toByte))
    assert(ro.getChunk("/cold", Seq(17)).get.toSeq == Seq(17.toByte))
  }

  test("ancestry graph renders ASCII and SVG with branches, forks, tags") {
    val repo = Repository.create(Store.local(tmpDir("svg")), spark)
    val s1 = repo.writableSession("main")
    s1.addArray("/a", Seq(4), Seq(2))
    s1.writeChunk("/a", Seq(0), Array[Byte](1))
    val c1 = s1.commit("first <commit> & more")
    repo.createTag("v1", c1)
    repo.createBranch("dev", c1)
    val s2 = repo.writableSession("dev")
    s2.writeChunk("/a", Seq(1), Array[Byte](2))
    s2.commit("dev work")

    val ascii = graft.vc.AncestryGraph.render(repo)
    assert(ascii.contains("main:") && ascii.contains("dev:"))
    assert(ascii.contains("forked from"))

    val svg = graft.vc.AncestryGraph.renderSvg(repo)
    assert(svg.startsWith("<svg ") && svg.trim.endsWith("</svg>"))
    assert(svg.contains(">main</text>") && svg.contains(">dev</text>"))
    // messages are HTML-escaped, tags badged, one circle per commit
    assert(svg.contains("first &lt;commit&gt; &amp; more"))
    assert(svg.contains("[v1]"))
    assert(3 == "<circle".r.findAllIn(svg).size) // root + c1 + dev tip
    // every edge references drawn rows (well-formed paths)
    assert(svg.contains("<path d=\"M "))
  }
}
