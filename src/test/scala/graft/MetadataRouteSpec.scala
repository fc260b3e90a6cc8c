package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import graft.core.Trace
import graft.meta.{ChunkRef, Snapshot}
import graft.ops.{Compaction, Integrity}
import graft.repo._
import graft.storage.Store
import graft.zarr.ZarrStore

/** Compaction, fsck and zarr listing read a driver-sized repo on the
  * driver and a larger one with Spark jobs. Every case asks both routes
  * the same question and compares the answers. The Spark route is reached
  * for real: through a branch whose closure holds 250,001 more refs (a
  * virtual ballast array staged from `spark.range`), or — for listings —
  * through a session holding a staged batch.
  */
class MetadataRouteSpec extends SparkTestBase {
  import spark.implicits._

  private val BallastRefs = 250001

  /** Virtual-ref source files: the check-time resolver covers `ok/` only. */
  private lazy val ext: String = {
    val d = tmpDir("route-ext")
    Seq("ok", "gone").foreach { sub =>
      Files.createDirectories(Paths.get(d, sub))
      Files.write(Paths.get(d, sub, "f.bin"), Array.fill(4096)(1.toByte))
    }
    d
  }

  private def resolver(prefix: String) =
    graft.virt.VirtualChunkResolver("file://" + prefix)

  private def bytes(n: Int, v: Int): Array[Byte] = Array.fill(n)(v.toByte)

  /** `main`: c1 writes native (1 KiB), inline and virtual refs, a 2-D
    * array, a 4-split array and an array under a group; c2 adds `/d`;
    * c3 overwrites, deletes and adds chunks. `big`: c3 plus the ballast.
    */
  private lazy val baseDir: String = {
    val dir = tmpDir("route-base")
    val repo = Repository.create(Store.local(dir), spark,
      GraftConfig(splits = Seq(SplitRule("/m", 0, 4))), resolver(ext))
    val s = repo.writableSession("main")
    s.addGroup("/g")
    s.addArray("/g/x", Seq(4), Seq(1))
    s.addArray("/n", Seq(4), Seq(1))
    s.addArray("/i", Seq(4), Seq(1))
    s.addArray("/v", Seq(4), Seq(1))
    s.addArray("/a", Seq(3, 3), Seq(1, 1))
    s.addArray("/m", Seq(16), Seq(1))
    (0 until 4).foreach { c =>
      s.writeChunk("/g/x", Seq(c), bytes(8, c))
      s.writeChunk("/n", Seq(c), bytes(1024, c + 1))
      s.writeChunk("/i", Seq(c), bytes(16 + c, c))
    }
    (0 until 3).foreach(c =>
      s.setVirtualRef("/v", Seq(c), s"file://$ext/ok/f.bin", c * 100L, 100L))
    s.setVirtualRef("/v", Seq(3), s"file://$ext/gone/f.bin", 0L, 10L)
    for (i <- 0 until 3; j <- 0 until 3)
      s.writeChunk("/a", Seq(i, j), bytes(4 + i + j, i * 3 + j))
    (0 until 16).foreach(c =>
      s.writeChunk("/m", Seq(c), bytes(if (c % 2 == 0) 1024 else 16, c)))
    s.commit("c1")
    val s2 = repo.writableSession("main")
    s2.addArray("/d", Seq(2), Seq(1))
    (0 until 2).foreach(c => s2.writeChunk("/d", Seq(c), bytes(8, c)))
    s2.commit("c2")
    val s3 = repo.writableSession("main")
    s3.writeChunk("/i", Seq(0), bytes(20, 9))
    s3.writeChunk("/n", Seq(1), bytes(2048, 9))
    s3.deleteChunk("/m", Seq(5))
    s3.writeChunk("/m", Seq(9), bytes(1024, 9))
    val c3 = s3.commit("c3")
    repo.createBranch("big", c3)
    val sb = repo.writableSession("big")
    sb.addArray("/big", Seq(BallastRefs.toLong), Seq(1))
    sb.stageChunkRefs("/big", spark.range(BallastRefs).select(
      array(col("id").cast("int")).as("coord"),
      lit(ChunkRef.KindVirtual).as("kind"),
      lit(s"file://$ext/ok/f.bin").as("location"),
      (col("id") % 4).as("offset"), lit(8L).as("length")))
    sb.commit("ballast")
    dir
  }

  /** A private copy of the base repo, opened with a resolver over
    * `resolverRoot`.
    */
  private def copyRepo(name: String,
                       resolverRoot: String = ext): Repository = {
    val src = Paths.get(baseDir)
    val dst = Paths.get(tmpDir(name))
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    Repository.open(Store.local(dst.toString), spark,
      resolver = resolver(resolverRoot))
  }

  /** Run `f`, returning its result and the `route` of every `span` it
    * emitted.
    */
  private def routed[T](span: String)(f: => T): (T, Seq[String]) = {
    val mem = Trace.toMemory()
    try {
      val r = f
      (r, mem.spans.filter(_.name == span).map(_.attrs.getOrElse("route", "?")))
    } finally Trace.disable()
  }

  private def ro(repo: Repository, branch: String): Session =
    repo.readonlySession(VersionRef.Branch(branch))

  /** An array's refs as comparable tuples, sorted by coordinate. */
  private def refsOf(s: Session, path: String) =
    s.refs(path).as[ChunkRef].collect().toSeq.map(r =>
      (r.coord.mkString(","), r.kind, Option(r.inline).map(_.toSeq),
        r.chunk_id, r.location, r.offset, r.length, r.etag,
        r.last_modified)).sortBy(_._1)

  private def shardStats(snap: Snapshot, nodeId: String) =
    snap.manifests.getOrElse(nodeId, Nil)
      .map(m => (m.split, m.emin, m.emax, m.numRefs, m.sizeBytes))
      .sortBy(_._1)

  private def txKeys(repo: Repository, snapshotId: String,
                     skipNode: String): Set[(String, String, Seq[Int])] =
    repo.assets.readTxLog(snapshotId).filter(col("node_id") =!= skipNode)
      .select("edit", "node_id", "coord").as[(String, String, Seq[Int])]
      .collect().toSet

  test("compaction: both routes write the same refs, shards and tx-log keys") {
    val repo = copyRepo("route-compact")
    val arrays = ro(repo, "main").nodes.filter(_.isArray)
    val before = arrays.map(n => n.path -> refsOf(ro(repo, "main"), n.path))
    val (dId, dRoutes) = routed("compact")(
      Compaction.rewriteManifests(repo, "main"))
    val (sId, sRoutes) = routed("compact")(
      Compaction.rewriteManifests(repo, "big"))
    assert(dRoutes == Seq("driver") && sRoutes == Seq("spark"))
    val (d, sp) = (repo.assets.readSnapshot(dId), repo.assets.readSnapshot(sId))
    val bigId = sp.nodes.find(_.path == "/big").get.id
    assert(sp.manifests(bigId).map(_.numRefs).sum == BallastRefs)
    val mId = arrays.find(_.path == "/m").get.id
    assert(d.manifests(mId).size == 4, "the /m split rule makes 4 shards")
    arrays.foreach { n =>
      assert(shardStats(d, n.id) == shardStats(sp, n.id), n.path)
      val (dRefs, sRefs) =
        (refsOf(ro(repo, "main"), n.path), refsOf(ro(repo, "big"), n.path))
      assert(dRefs == sRefs, n.path)
      assert(dRefs == before.toMap.apply(n.path), s"${n.path} changed")
    }
    // every kind of ref survives: native, inline, virtual
    val kinds = arrays.flatMap(n => refsOf(ro(repo, "main"), n.path).map(_._2))
    assert(Set(ChunkRef.KindRef, ChunkRef.KindInline, ChunkRef.KindVirtual)
      .subsetOf(kinds.toSet))
    // the tx log records every rewritten key, on both routes
    val dKeys = txKeys(repo, dId, bigId)
    assert(dKeys == txKeys(repo, sId, bigId))
    val expected = arrays.flatMap(n =>
      d.manifests.getOrElse(n.id, Nil).flatMap(m =>
        repo.assets.shardRefsDriver(m, n.id)).map(r =>
          (graft.meta.EditRow.Chunk, n.id, r.coord)))
    assert(dKeys == expected.toSet)
  }

  test("fsck: both routes report the same planted problems") {
    val repo = copyRepo("route-fsck", resolverRoot = ext + "/ok")
    val root = Paths.get(repo.store.rootUri.stripPrefix("file:"))
    val info = repo.info()
    val c2 = info.snapshots.find(_.message == "c2").get.id
    val dId = ro(repo, "main").node("/d").get.id
    val gone = repo.assets.readSnapshot(c2).manifests(dId).head.manifestId
    def delete(p: Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(delete)
      Files.delete(p)
    }
    delete(root.resolve(graft.meta.Layout.manifestPrefix(gone)))
    delete(root.resolve(graft.meta.Layout.snapshotKey(c2)))
    val main = ro(repo, "main")
    def chunkId(path: String, c: Int) =
      main.getChunkRef(path, Seq(c)).get.chunk_id
    delete(root.resolve(graft.meta.Layout.chunkKey(chunkId("/n", 0))))
    Files.write(root.resolve(graft.meta.Layout.chunkKey(chunkId("/m", 0))),
      bytes(10, 0))

    def report(ref: String, route: String) = {
      val (df, routes) = routed("fsck")(Integrity.check(repo, ref))
      assert(routes == Seq(route), ref)
      (df.schema, df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2))).toSet)
    }
    val (dSchema, d) = report("main", "driver")
    val (sSchema, s) = report("big", "spark")
    assert(dSchema == sSchema)
    assert(d == s)
    assert(d.map(_._1) == Set("missing_chunk", "short_chunk",
      "unmatched_virtual", "missing_manifest", "missing_snapshot"), d)
    assert(d.contains(("missing_snapshot", c2,
      graft.meta.Layout.snapshotKey(c2))))
    assert(d.contains(("missing_manifest", gone,
      graft.meta.Layout.manifestPrefix(gone))))
    assert(d.contains(("short_chunk", chunkId("/m", 0), "have 10 need 1024")))
    assert(d.count(_._1 == "unmatched_virtual") == 1)
  }

  /** listDir, listPrefix and getSizePrefix per prefix, asserting `route`
    * — except under prefixes no array's chunk keys intersect, which list
    * node metadata only and stay on the driver on every session.
    */
  private def listings(z: ZarrStore, prefixes: Seq[String], route: String) =
    prefixes.map { p =>
      val (dir, r1) = routed("zarr.list")(z.listDir(p))
      val (keys, r2) = routed("zarr.list")(z.listPrefix(p))
      val (size, r3) = routed("zarr.getsize")(z.getSizePrefix(p))
      val want = if (metadataOnly(p)) "driver" else route
      assert((r1 ++ r2 ++ r3) == Seq(want, want, want), s"prefix '$p'")
      (p, dir, keys, size)
    }

  private val metadataOnly = Set("zarr.json", "g/zarr.json", "nope")

  /** Stage a batch with no rows: the listing answers stay the same, but
    * the session must take the Spark route.
    */
  private def stageEmpty(s: Session, path: String): Unit =
    s.stageChunkRefs(path, Seq.empty[Tuple1[Seq[Int]]].toDF("coord"))

  private val prefixes = Seq("", "g", "g/x", "a", "a/c/1", "a/c/1/2", "m",
    "m/c", "m/c/1", "zarr.json", "g/zarr.json", "nope")

  test("listing: both routes agree on a read-only and a writable session") {
    val repo = copyRepo("route-list")
    val z = new ZarrStore(ro(repo, "main"))
    val readOnly = listings(z, prefixes, "driver")
    val same = repo.writableSession("main")
    stageEmpty(same, "/n")
    assert(listings(new ZarrStore(same), prefixes, "spark") == readOnly)
    // sanity: the answers are the key space, not empty agreement
    val byPrefix = readOnly.map(r => r._1 -> r).toMap
    assert(byPrefix("")._2 == Seq("a", "d", "g", "i", "m", "n", "v",
      "zarr.json"))
    assert(byPrefix("a/c/1")._2 == Seq("0", "1", "2"))
    assert(byPrefix("a/c/1/2")._3 == Seq("a/c/1/2"))
    assert(byPrefix("m/c")._2.size == 15)
    assert(byPrefix("g/x")._4 == 4 * 8 +
      z.metadataDocument(z.session.node("/g/x").get).getBytes.length)

    // uncommitted point writes and deletes, then a staged batch
    val w = repo.writableSession("main")
    w.writeChunk("/n", Seq(2), bytes(2048, 7))
    w.writeChunk("/a", Seq(1, 1), bytes(100, 7))
    w.deleteChunk("/m", Seq(0))
    w.deleteChunk("/a", Seq(1, 2))
    w.addArray("/new", Seq(2), Seq(1))
    w.writeChunk("/new", Seq(1), bytes(3, 3))
    val edited = listings(new ZarrStore(w), prefixes :+ "new", "driver")
    assert(edited.take(prefixes.size) != readOnly)
    stageEmpty(w, "/n")
    assert(listings(new ZarrStore(w), prefixes :+ "new", "spark") == edited)
    val e = edited.map(r => r._1 -> r).toMap
    assert(e("a/c/1")._2 == Seq("0", "1"))
    assert(e("new")._3 == Seq("new/c/1", "new/zarr.json"))
  }

  test("listing: a repo whose root is an array") {
    val repo = Repository.create(Store.local(tmpDir("route-root")), spark)
    val s = repo.writableSession("main")
    s.deleteNode("/")
    s.addArray("/", Seq(4), Seq(1))
    (0 until 4).foreach(c => s.writeChunk("/", Seq(c), bytes(5 + c, c)))
    s.commit("root array")
    val ps = Seq("", "c", "c/1", "zarr.json")
    val d = listings(new ZarrStore(ro(repo, "main")), ps, "driver")
    val w = repo.writableSession("main")
    stageEmpty(w, "/")
    assert(listings(new ZarrStore(w), ps, "spark") == d)
    assert(d.head._2 == Seq("c", "zarr.json"))
    assert(d(1)._4 == 5 + 6 + 7 + 8)
  }

  test("listing over the bound takes the Spark route; a pruned prefix " +
      "stays on the driver") {
    val repo = copyRepo("route-list-big")
    val big = new ZarrStore(ro(repo, "big"))
    val (dirs, r1) = routed("zarr.list")(big.listDir(""))
    assert(r1 == Seq("spark"))
    assert(dirs == (new ZarrStore(ro(repo, "main")).listDir("") :+ "big")
      .sorted)
    val (size, r2) = routed("zarr.getsize")(big.getSizePrefix("big"))
    assert(r2 == Seq("spark"))
    assert(size == BallastRefs * 8L +
      big.metadataDocument(big.session.node("/big").get).getBytes.length)
    // the bound counts only the arrays under the prefix
    val (nKeys, r3) = routed("zarr.list")(big.listPrefix("n"))
    assert(r3 == Seq("driver"))
    assert(nKeys == Seq("n/c/0", "n/c/1", "n/c/2", "n/c/3", "n/zarr.json"))
  }

  test("driver-sized metadata ops launch no Spark job") {
    val repo = copyRepo("route-jobs")
    val z = new ZarrStore(ro(repo, "main"))
    assert(jobsDuring(z.listDir("")) == 0)
    assert(jobsDuring(z.getSizePrefix("m")) == 0)
    assert(jobsDuring(Compaction.rewriteManifests(repo, "main")) == 0)
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { rows = Integrity.check(repo, "main").collect() } == 0)
    assert(rows.isEmpty, rows.mkString(" | "))
  }
}
