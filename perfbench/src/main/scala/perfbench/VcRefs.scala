package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.repo._

/** Metadata and version-control plane on the local filesystem: one big
  * array of virtual refs in split manifests plus many small arrays, under
  * bulk restages, small commits, a lost CAS race, merges, batched point
  * lookups and a maintenance pass every other cycle. No payload bytes
  * move.
  *
  * Every ref's location encodes the writer that last set it (`tag`), so
  * the expected value of any coord follows from the benchmark's own
  * record of which writer touched it last.
  */
final class VcRefs extends Workload {
  val refs = 20000           // refs in the big array at set-up
  val splits = 25            // split manifests over the big array
  val window = refs / 20     // bulk restage per cycle
  val append = refs / 100    // bulk append per cycle
  val delta = refs / 100     // per-side merge delta
  val smallArrays = 20
  val smallCommits = 3       // 3-chunk commits per cycle
  val reads = 10             // batched lookups per cycle
  val lookupCoords = 20
  val path = "/long1d"

  private var repo: Repository = null
  private var store: graft.storage.Store = null
  private var size = 0
  // tag of the writer that last set each coord of the big array
  private var tags: Array[Int] = Array.empty
  // payload byte of chunk (array i, coord j) of the small arrays
  private val small = scala.collection.mutable.HashMap[(Int, Int), Byte]()

  def shape: Map[String, Any] = Map("refs" -> refs, "split_manifests" -> splits,
    "small_arrays" -> smallArrays, "restage_refs" -> (window + append),
    "small_commits_per_cycle" -> smallCommits, "reads_per_cycle" -> reads,
    "coords_per_read" -> lookupCoords)

  def readKind = "lookup"
  // the small commits plus the race's winner
  def batch = Map("ingest" -> 1.0, "commit" -> (smallCommits + 1.0), "rebase" -> 1.0,
    "branch_delta" -> 1.0, "merge" -> 1.0, "maintenance" -> 0.5)

  private def location(tag: Int, c: Int) = s"file:///ext/w$tag/part-${c % 1000}"

  private def refsDf(ctx: Ctx, from: Int, until: Int, tag: Int): DataFrame =
    ctx.spark.range(from, until).select(
      array(col("id").cast("int")).as("coord"),
      lit("virtual").as("kind"),
      concat(lit(s"file:///ext/w$tag/part-"), (col("id") % 1000).cast("string"))
        .as("location"),
      (col("id") * 8000L).as("offset"),
      lit(8000L).as("length"))

  private def mark(from: Int, until: Int, tag: Int): Unit =
    (from until until).foreach(c => tags(c) = tag)

  def build(ctx: Ctx, dir: Path): Unit = {
    store = ctx.store(dir)
    repo = Repository.create(store, ctx.spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, refs / splits))))
    val s = repo.writableSession("main")
    s.addArray(path, Seq(refs.toLong * 1000), Seq(1000))
    (0 until smallArrays).foreach { i =>
      s.addArray(s"/many/a$i", Seq(64), Seq(8))
      s.writeChunk(s"/many/a$i", Seq(0), Array[Byte](i.toByte))
    }
    s.stageChunkRefs(path, refsDf(ctx, 0, refs, 0))
    s.commit("bulk")
    size = refs
    tags = Array.fill(refs + append * 400)(-1)
    mark(0, refs, 0)
    small.clear()
    (0 until smallArrays).foreach(i => small((i, 0)) = i.toByte)
  }

  /** The refs of `coords` on main, read on a freshly opened handle. */
  private def present(ctx: Ctx, coords: Seq[Int]): Boolean = {
    val ro = Repository.open(store, ctx.spark).readonlySession(VersionRef.Branch("main"))
    val got = ro.getChunkRefs(path, coords.map(Seq(_)))
    got.zip(coords).forall { case (r, c) =>
      r.exists(x => x.location == location(tags(c), c) && x.offset == c * 8000L)
    }
  }

  private def smallOk(ctx: Ctx, keys: Seq[(Int, Int)]): Boolean = {
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    keys.forall { case (i, j) =>
      ro.getChunk(s"/many/a$i", Seq(j)).exists(b => b.sameElements(Array(small((i, j)))))
    }
  }

  def cycle(ctx: Ctx, k: Int, deadlineNs: Long): Boolean = {
    val rng = ctx.rng(k)
    def late = System.nanoTime() > deadlineNs
    val base = k * 100

    // bulk restage of a seeded window plus an append
    val w = rng.nextInt(size - window)
    val grow = size + append
    ctx.op("ingest", units = (window + append).toDouble) {
      val s = repo.writableSession("main")
      s.updateArray(path, Seq(grow.toLong * 1000), Seq(1000))
      ctx.layer("repo.stage") {
        s.stageChunkRefs(path, refsDf(ctx, w, w + window, base)
          .union(refsDf(ctx, size, grow, base)))
      }
      s.commit(s"restage $k")
    } { _ =>
      mark(w, w + window, base); mark(size, grow, base); size = grow
      present(ctx, Seq(w, w + window - 1, grow - 1, rng.nextInt(size)))
    }
    if (late) return false

    // small commits: three point edits each
    for (j <- 0 until smallCommits) {
      val coords = Seq.fill(3)(rng.nextInt(size)).distinct
      val tag = base + 10 + j
      ctx.op("commit") {
        val s = repo.writableSession("main")
        coords.foreach(c => s.setVirtualRef(path, Seq(c), location(tag, c), c * 8000L, 8000L))
        s.commit(s"small $k.$j")
      } { _ => coords.foreach(c => tags(c) = tag); present(ctx, coords) }
      if (late) return false
    }

    // two writers race; the second loses the CAS and rebases
    val ca = Seq.fill(3)(rng.nextInt(size)).distinct
    val cb = Seq.fill(3)(rng.nextInt(size)).filterNot(ca.contains).distinct
    val a = repo.writableSession("main")
    val b = repo.writableSession("main")
    ca.foreach(c => a.setVirtualRef(path, Seq(c), location(base + 50, c), c * 8000L, 8000L))
    cb.foreach(c => b.setVirtualRef(path, Seq(c), location(base + 51, c), c * 8000L, 8000L))
    ctx.op("commit")(a.commit(s"winner $k"))(_ => true)
    ca.foreach(c => tags(c) = base + 50)
    ctx.op("rebase")(b.commit(s"rebased $k")) { _ =>
      cb.foreach(c => tags(c) = base + 51); present(ctx, ca ++ cb)
    }
    if (late) return false

    // a branch with a delta on each side, then the merge: the branch
    // edits 1% of the big array and every small array, main edits another
    // 1% (the disjoint half, so the sides never conflict) and one small array
    val branch = s"side$k"
    repo.createBranch(branch, repo.resolveVersion(VersionRef.Branch("main")))
    val x = rng.nextInt(size / 2 - delta)
    val y = size / 2 + rng.nextInt(size / 2 - delta)
    val j = 1 + rng.nextInt(7)
    ctx.op("branch_delta", units = 2.0 * delta + smallArrays + 1) {
      val f = repo.writableSession(branch)
      f.stageChunkRefs(path, refsDf(ctx, x, x + delta, base + 60))
      (0 until smallArrays).foreach { i =>
        f.writeChunk(s"/many/a$i", Seq(j), Array[Byte]((i + k).toByte))
      }
      f.commit("branch delta")
      val m = repo.writableSession("main")
      m.stageChunkRefs(path, refsDf(ctx, y, y + delta, base + 61))
      m.writeChunk("/many/a0", Seq(0), Array[Byte](k.toByte))
      m.commit("main delta")
    } { _ => true }
    if (late) return false
    ctx.op("merge")(repo.mergeBranch(branch, "main")) { _ =>
      mark(x, x + delta, base + 60); mark(y, y + delta, base + 61)
      (0 until smallArrays).foreach(i => small((i, j)) = (i + k).toByte)
      small((0, 0)) = k.toByte
      present(ctx, Seq(x, x + delta - 1, y, y + delta - 1)) &&
        smallOk(ctx, Seq((0, 0), (0, j), (smallArrays - 1, j)))
    }
    repo.deleteBranch(branch)
    if (late) return false

    // batched point lookups on one freshly opened handle
    val ro = Repository.open(store, ctx.spark).readonlySession(VersionRef.Branch("main"))
    for (_ <- 0 until (if (k == 0) 2 else reads)) {
      val coords = Seq.fill(lookupCoords)(rng.nextInt(size))
      ctx.op("lookup") {
        ctx.layer("meta.lookup")(ro.getChunkRefs(path, coords.map(Seq(_))))
      } { got =>
        got.zip(coords).forall { case (r, c) =>
          r.exists(x => x.location == location(tags(c), c) && x.offset == c * 8000L)
        }
      }
      if (late) return false
    }

    // every other cycle (1, 3, ...; and the warm-up), one maintenance
    // pass: compact manifests, expire and collect the history since the
    // last pass, then a clean fsck. Executors write the new manifests, so
    // the bytes rewritten are the sizes of the manifest files the pass
    // added.
    if (k % 2 == 1 || k == 0) {
      val before = if (ctx.traced) manifests() else Map.empty[Path, Long]
      ctx.op("maintenance") {
        ctx.layer("ops.compact")(graft.ops.Compaction.rewriteManifests(repo, "main"))
        val now = java.time.Instant.now()
        val expired = ctx.layer("ops.expire")(graft.ops.GC.expire(repo, now))
        val gc = ctx.layer("ops.gc")(graft.ops.GC.garbageCollect(repo, now))
        val bad = ctx.layer("ops.fsck")(graft.ops.Integrity.check(repo, "main").count())
        ctx.rec.note("ops.objects_deleted",
          (gc.chunksDeleted + gc.manifestsDeleted + gc.snapshotsDeleted + gc.txLogsDeleted).toDouble)
        (expired, bad)
      } { case (_, bad) =>
        if (ctx.traced)
          ctx.rec.note("ops.bytes_rewritten", (manifests() -- before.keySet).values.sum.toDouble)
        bad == 0 && present(ctx, Seq(0, size - 1, rng.nextInt(size)))
      }
    }
    !late
  }

  /** Every manifest file of the repo, with its size. */
  private def manifests(): Map[Path, Long] = {
    val at = java.nio.file.Paths.get(store.rootUri.stripPrefix("file:")).resolve("manifests")
    if (!java.nio.file.Files.exists(at)) Map.empty
    else {
      val s = java.nio.file.Files.walk(at)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f -> java.nio.file.Files.size(f)).toMap
      } finally s.close()
    }
  }

  // bytes of manifests at rest per ref of the big array
  override def finish(ctx: Ctx): Map[String, Double] =
    Map("meta.bytes_at_rest_per_ref" -> manifests().values.sum.toDouble / size)
}
