package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.meta.{ChunkRef, Layout, ManifestRef}
import graft.repo.{GraftError, GraftException, Repository}
import graft.storage.StoreConf

/** Repository fsck: verify that one ref's reachable closure is actually
  * serviceable from storage — every ancestry snapshot readable, every
  * referenced manifest present, and every native chunk object present
  * and long enough for the byte range its refs claim. The report is a
  * DataFrame of problems (empty = healthy), so at 100 TB the output
  * scales with the DAMAGE, not the repo: metadata checks are a
  * driver-side walk of the (bounded) snapshot/manifest lists, and the
  * chunk check is `stat` HEADs over the distinct chunk ids — the same
  * shape as [[Replicate.sync]]'s incremental skip test, no payload reads.
  *
  * Route rule for the chunk check, decided before any shard is read
  * from the `numRefs` the closure's snapshots record for their distinct
  * manifest shards: up to the driver-memory bound
  * (`Session.SmallCommitMaxShardRefs`, 250k refs) the driver reads those
  * shards ([[graft.meta.AssetManager.refsDriverBounded]]), takes
  * `max(offset + length)` per native chunk id and per virtual location
  * in one pass, runs the probes concurrently, and returns the report as
  * a local DataFrame — no Spark job reads a manifest. Past the bound it
  * is one multi-path Spark scan with the probes inside the tasks.
  *
  * Virtual refs are validated for container COVERAGE (a location no
  * registered container matches can never be fetched); their remote
  * bytes are deliberately not HEAD'd by default — they live in foreign
  * stores with their own lifecycle (`checkVirtual = true` turns presence
  * checks on, at one HEAD per distinct location).
  */
object Integrity {

  /** One problem row. kinds: `missing_snapshot`, `missing_manifest`,
    * `missing_chunk`, `short_chunk`, `unmatched_virtual`,
    * `missing_virtual`.
    */
  def check(repo: Repository, ref: String,
            checkVirtual: Boolean = false): DataFrame =
    graft.core.Trace.span("fsck", "ref" -> ref) { h =>
      checkImpl(repo, ref, checkVirtual, h)
    }

  private def checkImpl(repo: Repository, ref: String, checkVirtual: Boolean,
                        h: graft.core.Trace.Handle): DataFrame = {
    val spark = repo.spark
    import spark.implicits._
    val info = repo.info()
    val tip = info.branches.get(ref).orElse(info.tags.get(ref)).getOrElse(
      throw new GraftException(s"no branch or tag named $ref",
        GraftError.RefNotFound))
    val closure = (info.snapshotInfo(tip).toSeq ++ info.ancestry(tip))
      .distinctBy(_.id)

    // driver-side probes (snapshot exists/parse, manifest-dir listing)
    // run CONCURRENTLY: fsck over a deep history against an object
    // store is otherwise one round trip per snapshot plus one per
    // manifest, sequentially (round-13 latency audit)
    val metaProblems = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    val shards = scala.collection.mutable.LinkedHashSet[(ManifestRef, String)]()
    // width 128: bulk whole-repo probe (see Replicate's rationale)
    graft.storage.Store.parallelIO(closure, maxThreads = 128) { si =>
      val snapKey = Layout.snapshotKey(si.id)
      if (!repo.store.exists(snapKey))
        (Some(("missing_snapshot", si.id, snapKey)), Nil)
      else
        try (None, repo.assets.readSnapshot(si.id).manifests.toSeq
          .flatMap { case (node, ms) => ms.map(_ -> node) })
        catch {
          case e: Exception =>
            (Some(("corrupt_snapshot", si.id,
              Option(e.getMessage).getOrElse("").take(120))), Nil)
        }
    }.foreach { case (problem, parts) =>
      problem.foreach(metaProblems += _)
      shards ++= parts
    }
    val manifestIds = shards.iterator.map(_._1.manifestId).toSeq.distinct
    h.set("manifests", manifestIds.size.toLong)
    h.set("refs", shards.iterator.map(_._1.numRefs).sum)
    val presentManifests =
      graft.storage.Store.parallelIO(manifestIds, maxThreads = 128)(mid =>
        mid -> repo.assets.listManifest(mid).nonEmpty)
      .flatMap { case (mid, ok) =>
        if (ok) Some(mid)
        else {
          metaProblems += (("missing_manifest", mid,
            Layout.manifestPrefix(mid)))
          None
        }
      }

    val present = presentManifests.toSet
    val driverShards =
      repo.assets.refsDriverBounded(
        shards.toSeq.filter(p => present(p._1.manifestId)))
    h.set("route", if (driverShards.isDefined) "driver" else "spark")
    val resolver = repo.virtualResolver
    driverShards match {
      case _ if presentManifests.isEmpty =>
        metaProblems.toSeq.toDF("kind", "id", "detail")
      case Some(rows) =>
        // ONE pass over the refs feeds both checks (the Spark route's
        // two grouped scans)
        val need = scala.collection.mutable.LinkedHashMap[String, Long]()
        val vneed = scala.collection.mutable.LinkedHashMap[String, Long]()
        def bump(m: scala.collection.mutable.Map[String, Long], key: String,
                 end: Long): Unit =
          if (m.get(key).forall(_ < end)) m.update(key, end)
        rows.foreach(_.foreach { r =>
          r.kind match {
            case ChunkRef.KindRef => bump(need, r.chunk_id, r.offset + r.length)
            case ChunkRef.KindVirtual =>
              bump(vneed, r.location, r.offset + r.length)
            case _ =>
          }
        })
        val store = repo.store
        val chunkProblems = graft.storage.Store.parallelIO(need.toSeq,
          maxThreads = 128) { case (id, n) => chunkProblem(store, id, n) }
        val virtProblems = graft.storage.Store.parallelIO(vneed.toSeq,
          maxThreads = 128) { case (loc, n) =>
          virtualProblem(resolver, loc, n, checkVirtual) }
        (metaProblems.toSeq ++ chunkProblems.flatten ++ virtProblems.flatten)
          .toDF("kind", "id", "detail")
      case None =>
        sparkChunkCheck(repo, presentManifests, checkVirtual,
          metaProblems.toSeq.toDF("kind", "id", "detail"))
    }
  }

  /** Native chunk `id` must exist and hold at least `need` bytes. */
  private def chunkProblem(store: graft.storage.Store, id: String,
                           need: Long): Option[(String, String, String)] =
    store.stat(Layout.chunkKey(id)) match {
      case None => Some(("missing_chunk", id, Layout.chunkKey(id)))
      case Some(st) if st.size < need =>
        Some(("short_chunk", id, s"have ${st.size} need $need"))
      case _ => None
    }

  /** Virtual `loc` must be covered by a container, and (`checkVirtual`)
    * its byte range must end inside the object.
    */
  private def virtualProblem(resolver: graft.virt.VirtualChunkResolver,
      loc: String, need: Long,
      checkVirtual: Boolean): Option[(String, String, String)] = {
    // coverage = a container matches AND is authorized (credentials
    // or an explicit no-credential sentinel, #2194) — a registered
    // but unauthorized prefix can no more be fetched than an
    // unmatched one
    val problem =
      try resolver.coverageProblem(loc)
      catch { case e: Exception =>
        Some(Option(e.getMessage).getOrElse("bad location")) }
    if (problem.isDefined)
      Some(("unmatched_virtual", loc, problem.get.take(120)))
    else if (checkVirtual) {
      // presence probe: fetch the range's last byte (1-byte GET)
      try {
        resolver.ranged(loc, math.max(0L, need - 1), 1)
        None
      } catch {
        case e: Exception => Some(("missing_virtual", loc,
          Option(e.getMessage).getOrElse("").take(120)))
      }
    } else None
  }

  /** The chunk check past the driver bound: ONE multi-path scan over
    * every present manifest (no per-manifest condition — fsck over a
    * 10k-manifest repo must not spend its time in Catalyst analyzing a
    * 10k-leg union), the probes inside the tasks.
    */
  private def sparkChunkCheck(repo: Repository, presentManifests: Seq[String],
      checkVirtual: Boolean, metaDf: DataFrame): DataFrame = {
    val spark = repo.spark
    import spark.implicits._
    val conf: StoreConf = repo.store.conf
    val resolver = repo.virtualResolver
    val refs = spark.read.schema(repo.assets.manifestSchema)
      .option("recursiveFileLookup", "true")
      .parquet(presentManifests.map(repo.assets.manifestUri): _*)
      .select("kind", "chunk_id", "location", "offset", "length")

    val chunkProblems = refs.filter(F.col("kind") === ChunkRef.KindRef)
      .groupBy("chunk_id")
      .agg(F.max(F.col("offset") + F.col("length")).as("need"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val store = StoreConf.cached(conf)
        // stat probes WITHIN one task run concurrently (width 8,
        // bounded batches) — a serial per-chunk HEAD loop over a 50 ms
        // store is chunks × RTT of task wall (r14 Spark-plane soak)
        it.grouped(256).flatMap { g =>
          graft.storage.Store.parallelIO(g.toSeq, maxThreads = 8) {
            case (id, need) => chunkProblem(store, id, need)
          }.flatten
        }
      }.toDF("kind", "id", "detail")

    val virtProblems = refs.filter(F.col("kind") === ChunkRef.KindVirtual)
      .groupBy("location")
      .agg(F.max(F.col("offset") + F.col("length")).as("need"))
      .as[(String, Long)]
      .mapPartitions(_.flatMap { case (loc, need) =>
        virtualProblem(resolver, loc, need, checkVirtual) })
      .toDF("kind", "id", "detail")

    metaDf.unionByName(chunkProblems).unionByName(virtProblems)
  }
}
