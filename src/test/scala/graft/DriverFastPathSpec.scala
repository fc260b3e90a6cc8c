package graft

import org.apache.spark.sql.functions._
import graft.repo._
import graft.storage.Store

/** Pins for the r16 optimization round's driver fast paths: small STAGED
  * changesets flush/classify driver-side (previously point-only), and the
  * ChangeSet resolution memo invalidates on mutation.
  */
class DriverFastPathSpec extends SparkTestBase {

  private def stageRefs(s: Session, path: String, from: Int, until: Int,
                        tag: String = "ext"): Unit =
    s.stageChunkRefs(path, spark.range(from, until).select(
      array(col("id").cast("int")).as("coord"),
      lit("virtual").as("kind"),
      concat(lit(s"file:///$tag/"), col("id")).as("location"),
      lit(0L).as("offset"), lit(10L).as("length")))

  test("small staged changeset commits through the driver fast path " +
      "(one resolve, no Spark-path flush jobs) with state identical to " +
      "a reference read") {
    val repo = Repository.create(Store.local(tmpDir("dfp")), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 1000))))
    val s0 = repo.writableSession("main")
    s0.addArray("/a", Seq(4000), Seq(1))
    s0.commit("init")
    // staged batch of 2000 refs: resolvable driver-side (< 10k bound)
    val s1 = repo.writableSession("main")
    stageRefs(s1, "/a", 0, 2000)
    val commitJobs = jobsDuring(s1.commit("staged 2000"))
    // the ONLY Spark work of a small staged commit is resolving the
    // changeset (CollectLimit over the precedence window — 1-2 jobs
    // with AQE); the manifest write, extents, splits and tx log all
    // run driver-side. The Spark-path flush needed 4-5 more jobs.
    assert(commitJobs >= 1 && commitJobs <= 3,
      s"staged fast path ran $commitJobs jobs")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.refs("/a").count() == 2000)
    assert(ro.getChunkRef("/a", Seq(1234)).exists(
      _.location == "file:///ext/1234"))
    // tx log is driver-written and diff sees every edit
    val d = repo.diff(VersionRef.SnapshotVer(
        repo.ancestry(VersionRef.Branch("main")).apply(1).id),
      VersionRef.Branch("main"))
    assert(d.filter(col("edit") === graft.meta.EditRow.Chunk).count() == 2000)
  }

  test("detectLocal over a driver-resolved STAGED changeset matches " +
      "the Spark detect() on the same inputs") {
    val repo = Repository.create(Store.local(tmpDir("dfp2")), spark,
      GraftConfig())
    val s0 = repo.writableSession("main")
    s0.addArray("/x", Seq(100), Seq(1))
    s0.commit("init")
    // our (staged) edits: coords 10..20
    val ours = repo.writableSession("main")
    stageRefs(ours, "/x", 10, 20, tag = "ours")
    val nodeId = ours.node("/x").get.id
    // their tx log: chunk edits 15..25 on the same node (double-update
    // overlap = 15..19, 5 coords)
    val theirRows = (15 until 25).map(i =>
      graft.meta.EditRow.chunk(nodeId, "/x", Seq(i)))
    import graft.meta.GraftEncoders.editRowEnc
    val theirDf = spark.createDataset(theirRows.toVector)(editRowEnc).toDF()
    val viaSpark = graft.vc.ConflictDetector.detect(ours, theirDf)
    val ourRefs = ours.changeSet.resolvedDriver(spark)
    assert(ourRefs.isDefined, "staged 10-row changeset must resolve")
    val viaDriver = graft.vc.ConflictDetector.detectLocal(ours,
      theirRows, ourRefs.get)
    assert(viaSpark.toSet == viaDriver.toSet,
      s"spark=$viaSpark driver=$viaDriver")
    assert(viaDriver.exists(c =>
      c.kind == graft.vc.Conflict.ChunkDoubleUpdate && c.chunkCount == 5))
  }

  test("resolvedDriver memo invalidates on mutation (exclusions, " +
      "further staging) and a big changeset declines") {
    val repo = Repository.create(Store.local(tmpDir("dfp3")), spark,
      GraftConfig())
    val s0 = repo.writableSession("main")
    s0.addArray("/m", Seq(50000), Seq(1))
    s0.commit("init")
    val s = repo.writableSession("main")
    stageRefs(s, "/m", 0, 100)
    val first = s.changeSet.resolvedDriver(spark)
    assert(first.exists(_.size == 100))
    // memo hit: same object back without mutation
    assert(s.changeSet.resolvedDriverCached.contains(first))
    // exclusion drops rows from the NEXT resolution
    s.changeSet.addExclusion(spark.range(0, 40).select(
      lit(s.node("/m").get.id).as("node_id"),
      array(col("id").cast("int")).as("coord")))
    assert(s.changeSet.resolvedDriverCached.isEmpty,
      "memo must invalidate on addExclusion")
    assert(s.changeSet.resolvedDriver(spark).exists(_.size == 60))
    // over the bound: resolution declines, flush falls to the Spark path
    val big = repo.writableSession("main")
    stageRefs(big, "/m", 0, 10001)
    assert(big.changeSet.resolvedDriver(spark).isEmpty)
    big.commit("big staged") // Spark-path flush still lands it
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.refs("/m").count() == 10001)
  }
}
