package graft.meta

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ids
import graft.storage.Store

/** Key layout on storage (spec-v2.md:160-170).
  *
  * Pointer generations are encoded '''reverse-ordered''' (`MaxGen - gen`)
  * so the LATEST generation is the lexicographically FIRST key under
  * `repo/r.` — "what is the tip?" is one single-key listing page, O(1)
  * regardless of history length (the reference keeps one mutable `repo`
  * object + bounded `overwritten/` backups, repo_info.rs:90,
  * spec-v2.md:60-81; an append-only chain needs the reverse trick instead).
  */
object Layout {
  /** On-disk format revision this library writes (surfaced as
    * `Repository.SpecVersion`). Bumped when the pointer document gains
    * semantics an older reader would silently misread (round 12's
    * windowed snapshot index was such a change); every stored generation
    * carries it and [[RepoPointer.load]] refuses newer ones.
    */
  val SpecVersion = 2
  val PointerPrefix = "repo/r."
  /** Immutable spilled snapshot-index segments (see
    * [[RepoPointer.compareAndSwap]]'s pack step): the pointer keeps only
    * the most recent `snapshotIndexWindow` [[SnapshotInfo]] entries
    * inline; older entries live in these write-once files, listed
    * oldest-first in `RepoInfo.snapshotSegments`. Distinct from
    * `PointerPrefix` so generation listings never see them.
    */
  val SegmentPrefix = "repo/seg."
  def segmentKey(id: String): String = s"repo/seg.$id.json"
  val MaxGen: Long = 99999999999999L // 14 digits; ~3 kHz commits for 1000y
  def pointerKey(gen: Long): String = {
    require(gen >= 0 && gen <= MaxGen, s"gen out of range: $gen")
    f"repo/r.${MaxGen - gen}%014d.json"
  }
  def genOf(key: String): Long =
    MaxGen - key.stripPrefix(PointerPrefix).stripSuffix(".json").toLong
  def snapshotKey(id: String): String = s"snapshots/$id.json"
  def manifestPrefix(id: String): String = s"manifests/$id"
  def txLogPrefix(id: String): String = s"transactions/$id"
  def chunkKey(id: String): String = s"chunks/$id"
  /** The one chunk publish rule: a chunk object is written once under a
    * fresh id and only ever referenced afterwards (manifests, staged
    * refs), never overwritten. Returns the id. Every chunk upload, on the
    * driver or in a task, goes through here.
    */
  def publishChunk(store: Store, bytes: Array[Byte]): String = {
    val id = Ids.toBase32(Ids.newObjectId())
    store.putBytes(chunkKey(id), bytes)
    id
  }
  def stagingPrefix(token: String): String = s"staging/$token"
}

/** The repo pointer chain: load-latest + compare-and-swap.
  *
  * Commit writes generation N+1 with put-if-absent; a lost race means
  * another committer advanced the chain first — reload, rebase, retry
  * (the optimistic-concurrency loop of session.rs:3194-3402 /
  * storage.rs:578-587, re-expressed over an append-only file chain).
  */
final class RepoPointer(store: Store) {
  /** Latest generation number on storage, or -1 if uninitialized. One
    * single-key listing page thanks to the reverse key encoding — every
    * open/commit pays O(1), not O(history).
    */
  def latestGen(): Long =
    store.listPage(Layout.PointerPrefix, None, 1)
      .headOption.map(o => Layout.genOf(o.key)).getOrElse(-1L)

  def load(): Option[RepoInfo] = {
    val g = latestGen()
    if (g < 0) None
    else {
      val raw = loadGen(g)
      // refuse formats newer than this binary BEFORE interpreting any
      // field (a newer writer may have moved state out of the document
      // entirely — reading on would silently truncate history, and a
      // subsequent commit would drop the parts we didn't understand)
      if (raw.specVersion > Layout.SpecVersion)
        throw new graft.repo.GraftException(
          s"repository format version ${raw.specVersion} is newer than " +
            s"this library (reads <= ${Layout.SpecVersion}) — upgrade " +
            "the graft library to open this repository",
          graft.repo.GraftError.UnsupportedFormat)
      Some(hydrate(raw))
    }
  }

  /** Raw parse of one generation — NO segment hydration (only `opsLog`
    * walks old generations, and it reads `.ops` alone; the tip always
    * goes through [[load]], which hydrates).
    */
  def loadGen(gen: Long): RepoInfo =
    MetaJson.readRepoInfo(
      new String(store.getBytes(Layout.pointerKey(gen)), UTF_8))

  // ---- snapshot-index segments ----------------------------------------
  // The pointer document keeps only the most recent `snapshotIndexWindow`
  // SnapshotInfo entries inline; the rest live in immutable repo/seg.*
  // files. load() splices them back so every RepoInfo consumer sees the
  // full index; compareAndSwap's pack() re-splits before writing. Without
  // this, the pointer grows ~250 B per commit and EVERY commit serializes
  // O(history) JSON — the history-depth probe (tools/DiagHistory) measured
  // 13 -> 102 ms commits and a 1 MB pointer by depth 4 000.

  // Segment cache, bounded by TOTAL cached SnapshotInfos (the split
  // cache's r12 treatment, VERDICT r13): the geometric merge keeps the
  // LIVE chain O(log n), but a long-lived driver reads (and writes) a
  // superseded merged batch every `window` commits — unbounded, the
  // retained copies sum to O(N log N) infos over N commits (~100s of MB
  // by ~100k commits in one JVM). Access-ordered LRU: every load()
  // touches the tip's segment list, so live-chain keys stay resident and
  // superseded batches age out first. Eviction costs one re-GET at most
  // (segments are immutable), never correctness.
  // ~300 B each => ~30 MB worst; var so specs can pin eviction cheaply
  private[graft] var maxCachedSegInfos = 100000L
  private var cachedSegInfos = 0L
  private val segCache =
    new java.util.LinkedHashMap[String, Seq[SnapshotInfo]](64, 0.75f, true)

  /** (entries, total cached infos) — test hook pinning the memory bound. */
  private[graft] def segCacheStats: (Int, Long) =
    segCache.synchronized((segCache.size(), cachedSegInfos))

  private def segCacheContains(key: String): Boolean =
    segCache.synchronized(segCache.containsKey(key))

  private def segCachePut(key: String, v: Seq[SnapshotInfo]): Unit =
    segCache.synchronized {
      Option(segCache.remove(key)).foreach(old => cachedSegInfos -= old.size)
      if (v.size <= maxCachedSegInfos) { // oversized values bypass, like
        segCache.put(key, v)             // splitCache's per-split gate
        cachedSegInfos += v.size
        val it = segCache.entrySet().iterator()
        while (cachedSegInfos > maxCachedSegInfos && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { // never evict the fresh insert
            cachedSegInfos -= e.getValue.size
            it.remove()
          }
        }
      }
    }

  private def readSegment(key: String): Seq[SnapshotInfo] =
    segCache.synchronized(Option(segCache.get(key))) match {
      case Some(v) => v
      case None =>
        val v = MetaJson.readSnapshotInfos(
          new String(store.getBytes(key), UTF_8))
        segCachePut(key, v)
        v
    }

  /** Splice spilled segments back into the inline window. Uncached
    * segments are fetched CONCURRENTLY (ephemeral pool, one GET each):
    * a cold open of a deep-history repo pays ~1 RTT for the whole
    * segment chain, not one RTT per segment — at 100 k commits / 50 ms
    * RTT the serial walk would be a ~10 s open (round-13 latency soak;
    * geometric merging below keeps the chain O(log history) anyway).
    */
  private def hydrate(r: RepoInfo): RepoInfo =
    if (r.snapshotSegments.isEmpty) r
    else {
      val cold = r.snapshotSegments.filterNot(segCacheContains)
      if (cold.size > 1) Store.parallelIO(cold)(readSegment)
      r.copy(snapshots =
        r.snapshotSegments.flatMap(readSegment) ++ r.snapshots)
    }

  private def writeSegment(entries: Seq[SnapshotInfo]): String = {
    val key = Layout.segmentKey(Ids.toBase32(Ids.newObjectId()))
    store.putBytes(key, MetaJson.writeSnapshotInfos(entries).getBytes(UTF_8))
    segCachePut(key, entries)
    key
  }

  /** Split a hydrated info back into (inline window, segment files) for
    * storage.
    *
    * Appends (the overwhelmingly common case: commits) spill at most ONE
    * new segment per `window` commits, then fold trailing segments no
    * larger than the fresh batch into it — the binary-counter merge of
    * an LSM tree, so the segment count stays O(log history) (each entry
    * is rewritten O(log n) times, amortized O(1) writes per commit).
    * Without the merge a 100 k-commit history is ~400 segments = ~400
    * cold-open GETs; with it, ~10.
    *
    * A FILTERED history (expire squashed entries, or an amend reached
    * into the segmented region) re-tiles instead of rewriting wholesale:
    * old segments whose entries survive verbatim at consecutive
    * positions are reused by key, and only the gaps between them (the
    * edited expire boundary, typically one entry) are written as fresh
    * segments — expire pays O(changed), not O(history). Orphaned segment
    * files are swept by GC's age-guarded, generation-aware pass.
    */
  private def pack(info: RepoInfo): RepoInfo = {
    val window = math.max(16,
      graft.repo.GraftConfig.fromMap(info.config).snapshotIndexWindow)
    val all = info.snapshots
    val segFlat = info.snapshotSegments.flatMap(readSegment)
    if (all.size >= segFlat.size &&
        all.iterator.zip(segFlat.iterator).forall { case (a, b) => a == b }) {
      // append fast path: existing segments are an exact prefix
      val tail = all.drop(segFlat.size)
      if (tail.size <= 2 * window)
        info.copy(snapshots = tail)
      else {
        var batch = tail.dropRight(window)
        var kept = info.snapshotSegments
        while (kept.nonEmpty && readSegment(kept.last).size <= batch.size) {
          batch = readSegment(kept.last) ++ batch
          kept = kept.dropRight(1)
        }
        info.copy(snapshots = tail.takeRight(window),
          snapshotSegments = kept :+ writeSegment(batch))
      }
    } else if (all.size <= 2 * window)
      info.copy(snapshots = all, snapshotSegments = Nil)
    else {
      // filtered history: re-tile the spilled prefix, reusing intact
      // segments by key and writing only the gaps
      val spillCount = all.size - window
      val posOf = all.iterator.zipWithIndex
        .map { case (s, i) => s.id -> i }.toMap
      val outSegs = scala.collection.mutable.ArrayBuffer[String]()
      var pos = 0
      def flushGap(until: Int): Unit =
        if (until > pos) { outSegs += writeSegment(all.slice(pos, until)); pos = until }
      info.snapshotSegments.foreach { segKey =>
        val entries = readSegment(segKey)
        val at = entries.headOption.flatMap(e => posOf.get(e.id))
        at match {
          case Some(i) if i >= pos && i + entries.size <= spillCount &&
              all.slice(i, i + entries.size) == entries &&
              // coalesce (ADVICE r13): intact segments SMALLER than the
              // window are absorbed into the surrounding gap write
              // instead of reused — the append path's binary-counter
              // fold only merges TRAILING segments, so without this,
              // every expire boundary's tiny gap segment would be
              // re-adopted verbatim forever and the mid-chain would
              // erode from geometric to linear. Absorbing is bounded:
              // sub-window segments only (a large reused run is never
              // cascaded into a rewrite, keeping re-tile O(changed)).
              entries.size >= window =>
            flushGap(i)
            outSegs += segKey
            pos = i + entries.size
          case _ => () // pruned, edited, or sub-window — lands in a gap
        }
      }
      flushGap(spillCount)
      info.copy(snapshots = all.drop(spillCount),
        snapshotSegments = outSegs.toSeq)
    }
  }

  /** CAS: succeeds only if `expectedGen` is still the tip.
    *
    * Lost-success-response recovery (reference Changelog #2156,
    * `Changelog.md` 2.1.2 Fixes): a conditional PUT can LAND on storage
    * while its 200 response is lost in transit — a naive committer then
    * reloads, finds the chain advanced (by itself!), and rebases over its
    * own commit, landing it twice. Every generation upload is therefore
    * stamped with a unique `writeId`; on ANY failure — condition-failed
    * `false` or a transport exception — generation N+1 is read back, and
    * finding our own `writeId` there IS success. An exception with
    * nothing landed is a safe retry (the conditional semantics still
    * hold); persistent transport failure rethrows.
    */
  def compareAndSwap(expectedGen: Long, next: RepoInfo): Boolean = {
    require(next.gen == expectedGen + 1, "next.gen must be expectedGen+1")
    val stamped = pack(next).copy(writeId = Ids.toBase32(Ids.newObjectId()),
      specVersion = Layout.SpecVersion)
    val key = Layout.pointerKey(stamped.gen)
    val bytes = MetaJson.writeRepoInfo(stamped).getBytes(UTF_8)
    // Some(true) = our write landed; Some(false) = someone else's did;
    // None = nothing landed (or unreadable — the caller decides which)
    def landedWrite(): Option[Boolean] =
      try Some(MetaJson.readRepoInfo(
        new String(store.getBytes(key), UTF_8)).writeId == stamped.writeId)
      catch { case _: Exception => None }
    /** putIfAbsent returned false, so the generation definitively EXISTS
      * — adjudicate whose it is. Unreadable must NEVER be reported as a
      * lost race: the object could be our own landed write from an
      * earlier ambiguous attempt, and a false "lost" re-opens the #2156
      * duplicate-commit window. Persistent unreadability throws.
      */
    def adjudicate(): Boolean = {
      var reads = 0
      while (true) {
        landedWrite() match {
          case Some(own) => return own
          case None =>
            reads += 1
            if (reads >= 3) throw new graft.repo.GraftException(
              s"cannot read back generation ${stamped.gen} to adjudicate " +
                "a failed conditional write",
              graft.repo.GraftError.Storage)
            Thread.sleep(10L * reads)
        }
      }
      false // unreachable
    }
    var attempts = 0
    while (true) {
      attempts += 1
      try {
        if (store.putIfAbsent(key, bytes)) return true
        return adjudicate()
      } catch {
        case e: Exception =>
          landedWrite() match {
            case Some(own) => return own
            // None here may genuinely mean NOTHING landed — retrying the
            // conditional PUT is safe (it stays conditional); persistent
            // transport failure rethrows
            case None => if (attempts >= 3) throw e
          }
      }
    }
    false // unreachable
  }

  /** Full ops history: the ring in the tip plus older generations' rings
    * (the generation chain IS the `overwritten/` history of the reference,
    * repository.rs:1082-1133). Driver-side paging, newest first; stops at
    * the GC-pruned horizon (old generations past the ops ring are
    * deletable, [[graft.ops.Maintenance]]).
    */
  def opsLog(maxEntries: Int = Int.MaxValue): Seq[OpLogEntry] = {
    val out = scala.collection.mutable.ArrayBuffer[OpLogEntry]()
    val tip = latestGen()
    var g = tip
    var lastSeen: Set[String] = Set.empty
    // generations are fetched in concurrent batches that double from 1
    // (the tip's ring alone answers most calls) up to 32 — a deep page
    // through an unpruned chain costs O(depth/32) round trips, not
    // O(depth) (round-13 latency soak: the serial walk was the engine's
    // longest sequential-RTT chain)
    var batchSize = 1L
    // generations at or below tip - opsRingSize are prune-ELIGIBLE: a
    // wide batch must not straddle that horizon (on a pruned repo it
    // would issue up to 31 guaranteed-miss GETs, ADVICE r13). The ring
    // size comes from the tip's own persisted config; below the horizon
    // the walk probes with batch 1 — one hit proves GC never pruned and
    // doubling resumes, one miss ends the walk at one wasted GET.
    var horizon = 0L
    var probedPastHorizon = false
    while (g >= 0 && out.size < maxEntries) {
      val lo = math.max(0L, g - batchSize + 1)
      val cappedLo =
        if (!probedPastHorizon && g >= horizon) math.max(lo, horizon) else lo
      val gens = (g to cappedLo by -1).toSeq
      val batch = Store.parallelIO(gens) { gg =>
        // missing = pruned horizon (both FS and the cloud backends
        // signal absent keys this way) — a clean end of the walk.
        // Anything else is transient (throttling, connection reset):
        // bounded exponential backoff, because the wide 32-way batches
        // are exactly the pattern that draws multi-shot throttling — a
        // single fixed-delay retry aborted the whole walk on two
        // consecutive blips (ADVICE r14). Persistent failure stays loud
        // (silently truncating the walk would misreport history).
        var attempt = 0
        var out: Option[Option[RepoInfo]] = None
        while (out.isEmpty) {
          try out = Some(Some(loadGen(gg)))
          catch {
            case _: java.nio.file.NoSuchFileException => out = Some(None)
            case e: Exception =>
              attempt += 1
              if (attempt > 3) throw e
              Thread.sleep(50L << (attempt - 1))
          }
        }
        out.get
      }
      // consume in order, newest first; stop at the first pruned
      // generation (nothing past the horizon is walkable)
      var halted = false
      batch.foreach {
        case Some(info) if !halted && out.size < maxEntries =>
          if (g == tip)
            horizon = math.max(0L, tip -
              graft.repo.GraftConfig.fromMap(info.config).opsRingSize)
          val fresh =
            info.ops.filterNot(e => lastSeen.contains(e.ts + e.op + e.detail))
          out ++= fresh.sortBy(_.ts).reverse
          lastSeen = info.ops.map(e => e.ts + e.op + e.detail).toSet
          g -= 1
        case Some(_) => () // past maxEntries — done below
        case None => halted = true
      }
      if (halted) g = -1
      else if (g < horizon && !probedPastHorizon) {
        probedPastHorizon = true
        batchSize = 1L // probe; a hit resumes doubling (GC never pruned)
      } else batchSize = math.min(32L, batchSize * 2)
    }
    out.distinct.take(maxEntries).toSeq
  }

  /** Prune pointer generations older than `keep` behind the tip (the
    * bounded `overwritten/` history of spec-v2.md:60-81). Returns the
    * number of generations deleted.
    */
  def pruneGenerations(keep: Int): Int = {
    val tip = latestGen()
    val horizon = tip - math.max(1, keep)
    if (horizon < 0) return 0
    // reverse encoding: generations <= horizon sort strictly AFTER the
    // horizon+1 key — page forward from there and delete
    var deleted = 0
    var after: Option[String] = Some(Layout.pointerKey(horizon + 1))
    var more = true
    while (more) {
      val page = store.listPage(Layout.PointerPrefix, after, 1000)
      if (page.isEmpty) more = false
      else {
        store.delete(page.map(_.key))
        deleted += page.size
        after = Some(page.last.key)
        // page size is not a truncation signal (S3 may short-page):
        // keep going until an empty page
      }
    }
    deleted
  }
}

/** Typed I/O over the store: snapshots (JSON), manifests / tx logs
  * (Parquet via Spark), chunk blobs (raw bytes). Driver-side memoization of
  * snapshot documents stands in for the reference's LRU caches
  * (asset_manager.rs:71-147); Parquet datasets are cached by Spark's block
  * manager when `.persist()`ed by callers.
  */
final class AssetManager(val store: Store, spark: SparkSession) {
  import scala.collection.concurrent.TrieMap
  private val snapshotCache = TrieMap[String, Snapshot]()

  /** Explicit manifest schema (ChunkRef columns + split partition) — read
    * with it rather than inferring, so empty manifests (a flush whose
    * merge produced no surviving refs) stay readable.
    */
  val manifestSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ChunkRef].schema
      .add("split", org.apache.spark.sql.types.IntegerType)

  private def readManifest(id: String): DataFrame =
    spark.read.schema(manifestSchema).parquet(manifestUri(id))

  // ---- snapshots ----
  def writeSnapshot(s: Snapshot): Unit = {
    store.putBytes(Layout.snapshotKey(s.id),
      MetaJson.writeSnapshot(s).getBytes(UTF_8))
    snapshotCache.put(s.id, s)
  }

  def readSnapshot(id: String): Snapshot =
    snapshotCache.getOrElseUpdate(id,
      MetaJson.readSnapshot(
        new String(store.getBytes(Layout.snapshotKey(id)), UTF_8)))

  // ---- manifests (Parquet, written sorted for stats-based pruning) ----
  def manifestUri(id: String): String = store.uri(Layout.manifestPrefix(id))

  /** The flush kernel on the Spark route (r17, guide §2.4): ONE exchange
    * + ONE sort + ONE job. `rows` is the RAW merge relation — committed
    * rows stamped `_batch = -1` unioned with the raw changeset rows (their
    * staging `_batch` stamps) — bucketed with `split`. After the
    * repartition to (node_id, split), every (node_id, coord) group is
    * wholly inside one partition (split is a function of the coord), and
    * the sort into [[AssetManager.FlushOrder]] hands each task the stream
    * [[AssetManager.flushKernel]] consumes. The task writes each shard
    * and RETURNS the shard stats as its output, so the extents never need
    * a readback scan (guide §6/§5: don't recompute what the write already
    * knows). FusedFlushSpec pins the rules the kernel applies.
    */
  def writeManifestFused(id: String, rows: DataFrame,
      gridOf: Map[String, Seq[Int]],
      txFusion: Option[AssetManager.FusedTxSpec] = None)
      : Map[String, Seq[ManifestRef]] = {
    val conf = store.conf
    val grids = gridOf.map { case (k, v) => k -> v.toArray }
    val sorted = rows
      .repartition(col("node_id"), col("split"))
      .sortWithinPartitions(AssetManager.FlushSortCols: _*)
      .select(struct(AssetManager.RefCols.map(col): _*).as("ref"),
        col("split"), col("_batch").as("batch"))
      .as(org.apache.spark.sql.Encoders.product[AssetManager.FlushRow])
    val stats = graft.core.Trace.span("manifest.write", "id" -> id,
        "route" -> "spark") { _ =>
      sorted.mapPartitions(
        AssetManager.fusedWritePartition(id, conf, grids, txFusion))(
        org.apache.spark.sql.Encoders.product[FusedShardStat])
        .collect()
    }
    AssetManager.manifestRefs(id, stats.toSeq)
  }

  /** The flush kernel on the driver (no Spark job) — the small-commit
    * route. Each (node, split) group's rows sort locally into
    * [[AssetManager.FlushOrder]] and the groups run through the kernel
    * concurrently, each writing its shard through [[store]] (shard PUTs
    * are independent write-once objects: a 10-shard commit at 150 ms RTT
    * costs ~1 RTT of wall, not 10; round-13 latency soak). The split
    * cache is warmed with each shard's winners, so the NEXT small commit
    * reads its predecessor shard without any job at all. Returns the new
    * shards and the changed keys (node_id, coord) the kernel logged.
    */
  def writeManifestDriver(id: String, rows: Seq[AssetManager.FlushRow],
      gridOf: Map[String, Seq[Int]])
      : (Map[String, Seq[ManifestRef]], Seq[(String, Seq[Int])]) =
    graft.core.Trace.span("manifest.write", "id" -> id,
        "route" -> "driver") { _ =>
      val grids = gridOf.map { case (k, v) => k -> v.toArray }
      val groups = rows.groupBy(r => (r.ref.node_id, r.split)).values.toSeq
      val done = graft.storage.Store.parallelIO(groups) { g =>
        val keys = scala.collection.mutable.ArrayBuffer[(String, Seq[Int])]()
        val shards = AssetManager.flushKernel(id, grids, keepWinners = true,
          store.putBytes, (node, coord) => keys += (node -> coord))(
          g.sorted(AssetManager.FlushOrder).iterator)
        (shards, keys.toSeq)
      }
      val shards = done.flatMap(_._1)
      shards.foreach { case (s, refs) =>
        if (refs.size <= MaxCachedRefsPerSplit)
          splitCachePut((id, s.node_id, s.split),
            refs.iterator.map(r => (r.coord: Seq[Int]) -> r).toMap)
      }
      (AssetManager.manifestRefs(id, shards.map(_._1)), done.flatMap(_._2))
    }

  /** Read one shard's refs entirely driver-side: split cache when warm,
    * otherwise fetch the partition dir's data files through the Store and
    * decode with [[DriverParquet]] — zero Spark jobs either way.
    */
  def shardRefsDriver(mref: ManifestRef, nodeId: String): Seq[ChunkRef] =
    loadSplitDriver(mref, nodeId).values.toSeq

  /** The bounded driver read under the metadata ops (compaction, fsck,
    * zarr listing): every ref of the given (shard, node) pairs, read in
    * one concurrent wave of [[shardRefsDriver]] reads with zero Spark
    * jobs, aligned with `parts`. None, decided before any IO, when the
    * shards' recorded `numRefs` sum past `maxRefs` — by default the
    * driver-memory bound (`Session.SmallCommitMaxShardRefs`, ~25 MB of
    * refs): the caller then takes its Spark route.
    */
  def refsDriverBounded(parts: Seq[(ManifestRef, String)],
      maxRefs: Long = graft.repo.Session.SmallCommitMaxShardRefs)
      : Option[Seq[Seq[ChunkRef]]] =
    if (parts.iterator.map(_._1.numRefs).sum > maxRefs) None
    else Some(graft.storage.Store.parallelIO(parts) { case (m, node) =>
      shardRefsDriver(m, node)
    })

  /** Load one split's coord→ref table through the cache, reading the
    * shard's data files driver-side (Store GET + [[DriverParquet]], zero
    * Spark jobs). Shared by the small-commit fast path AND cold point
    * lookups — both pay one bounded driver read, then O(1) probes.
    */
  private def loadSplitDriver(mref: ManifestRef,
                              nodeId: String): Map[Seq[Int], ChunkRef] = {
    val key = (mref.manifestId, nodeId, mref.split)
    splitCache.synchronized(Option(splitCache.get(key))) match {
      case Some(m) => m
      case None =>
        val files = splitFiles(mref.manifestId, nodeId, mref.split)
        val rows = graft.storage.Store.parallelIO(files)(o =>
          DriverParquet.readChunkRefs(store.getBytes(o.key), nodeId)).flatten
        val m = rows.map(r => (r.coord: Seq[Int]) -> r).toMap
        // duplicate coords in one shard mean a buggy or torn writer — the
        // coord-keyed map would silently repair-by-drop on the merge
        // path, hiding the corruption; fail loudly instead (ADVICE r12)
        if (rows.size != m.size)
          throw new graft.repo.GraftException(
            s"manifest shard ${mref.manifestId}/node_id=$nodeId" +
              s"/split=${mref.split} contains ${rows.size - m.size} " +
              "duplicate chunk coordinates — refusing to silently collapse " +
              "a corrupt shard",
            graft.repo.GraftError.Storage)
        if (mref.numRefs <= MaxCachedRefsPerSplit) splitCachePut(key, m)
        m
    }
  }

  /** Warm MANY splits into the driver cache concurrently — the batched
    * form of [[warmSplit]] for preload rules and multi-coordinate point
    * reads: N cold splits cost ~1 round trip of wall time, not N
    * (round-13 latency soak; the reference's `get_partial_values`
    * bounded-concurrency pattern, config.rs:576-578).
    */
  def warmSplits(parts: Seq[(ManifestRef, String)]): Unit = {
    val eligible = parts.distinct.filter(_._1.numRefs <= MaxCachedRefsPerSplit)
    graft.storage.Store.parallelIO(eligible) { case (m, node) =>
      loadSplitDriver(m, node); ()
    }
  }

  /** One commit's driver-known tx-log rows (node edits, and the chunk
    * keys the kernel logged on the driver route) as one file.
    */
  def writeTxLogDriver(snapshotId: String, rows: Seq[EditRow]): Unit =
    store.putBytes(
      s"${Layout.txLogPrefix(snapshotId)}/part-00000-driver.zstd.parquet",
      DriverParquet.writeEditRows(rows))

  /** Driver-side cache of manifest splits for point lookups — the Spark
    * analog of the reference's manifest LRU + preload cap
    * (asset_manager.rs:71-147, config.rs:294). Manifests are immutable so
    * entries never invalidate.
    *
    * Bounds: the per-split cap (250 k, aligned with
    * `Session.SmallCommitMaxShardRefs`) gates what is cacheable at all —
    * the round-12 scale soak caught the old 10 k cap as a cliff (at 5 M
    * refs / 50 k-ref splits NOTHING cached, so every hot point lookup ran
    * a full Spark job: 0.7 ms lookups became ~50 ms). Splits above the
    * cap fall back to a stats-pruned Spark scan. Total memory is bounded
    * by TOTAL CACHED REFS (not entry count): boxed entries cost ~300-400 B
    * each, so 1 M refs ≈ 300-400 MB worst case against the 8 GiB default
    * driver heap, and the eldest splits evict until the total fits.
    */
  // var so specs can force the oversized-split (ranged-lookup) path
  private[graft] var MaxCachedRefsPerSplit = 250000
  private val MaxCachedRefsTotal = 1000000L
  private val MaxCachedSplits = 256
  private var cachedRefsTotal = 0L
  private val splitCache =
    new java.util.LinkedHashMap[(String, String, Int),
        Map[Seq[Int], ChunkRef]](64, 0.75f, true)

  /** (entries, total cached refs) — test hook pinning the memory bound. */
  private[graft] def splitCacheStats: (Int, Long) =
    splitCache.synchronized((splitCache.size(), cachedRefsTotal))

  /** Insert under both bounds: evict eldest-first (access order) until the
    * total-ref and entry-count caps hold. Callers hold no lock.
    */
  private def splitCachePut(key: (String, String, Int),
                            m: Map[Seq[Int], ChunkRef]): Unit =
    splitCache.synchronized {
      Option(splitCache.remove(key)).foreach(old =>
        cachedRefsTotal -= old.size)
      splitCache.put(key, m)
      cachedRefsTotal += m.size
      val it = splitCache.entrySet().iterator()
      while ((cachedRefsTotal > MaxCachedRefsTotal ||
          splitCache.size() > MaxCachedSplits) && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { // never evict the fresh insert
          cachedRefsTotal -= e.getValue.size
          it.remove()
        }
      }
    }

  /** Eagerly load a split into the cache (manifest preload). */
  def warmSplit(mref: ManifestRef, nodeId: String): Unit =
    if (mref.numRefs <= MaxCachedRefsPerSplit)
      lookupRef(mref, nodeId, Nil) // Nil never matches; load side effect

  /** Point lookup of one chunk ref within a manifest split. */
  def lookupRef(mref: ManifestRef, nodeId: String,
                coord: Seq[Int]): Option[ChunkRef] = {
    if (mref.numRefs <= MaxCachedRefsPerSplit)
      // cold AND hot both zero-Spark-job: one bounded driver-side shard
      // read populates the cache, then O(1) probes (a cold lookup through
      // a 50 k-ref split is ~20 ms of DriverParquet vs ~100 ms of Spark
      // job overhead — the round-12 soak's cold-lookup growth)
      loadSplitDriver(mref, nodeId).get(coord)
    else {
      // oversized split (round 14): driver-side FILTERED read over
      // ranged GETs — parquet stats/column-index pruning on the
      // coord-sorted (c0..c3) columns reads only the footer + the pages
      // holding the candidate rows, so the lookup costs a handful of
      // ranged GETs regardless of shard size: no Spark job (~100 ms
      // scheduling floor, the r12 soak's 0.5+ exponent on this path)
      // and no full-shard download (unboundedly large splits stay
      // readable at a bounded per-lookup cost)
      val files = splitFiles(mref.manifestId, nodeId, mref.split)
      graft.storage.Store.parallelIO(files)(o =>
          DriverParquet.lookupRefsRanged(store, o.key, o.size, nodeId,
            coord))
        .flatten.find(_.coord == coord)
    }
  }

  /** Batched point lookups through ONE oversized split: one filtered
    * ranged read per data file serves EVERY requested coordinate (an OR
    * predicate — footer and column index read once, decoded pages the
    * union of the candidates'), instead of one independent read per
    * coordinate (round 15). Only call for splits past the cache cap;
    * cacheable splits go through [[lookupRef]]'s warm map.
    */
  def lookupRefsBatch(mref: ManifestRef, nodeId: String,
      coords: Seq[Seq[Int]]): Map[Seq[Int], ChunkRef] = {
    val wanted = coords.distinct
    if (wanted.isEmpty) return Map.empty
    val files = splitFiles(mref.manifestId, nodeId, mref.split)
    // parquet-mr recurses over the OR predicate tree (stats filter,
    // record-filter builder), so an unbounded coordinate list would
    // build an unbounded left-deep tree — StackOverflow territory at
    // tens of thousands of coords, and O(rows × N) record evaluation.
    // 256 coords per read keeps the tree shallow while a wave still
    // pays ~#groups file reads instead of #coords
    val work = for {
      o <- files; g <- wanted.grouped(256).toSeq
    } yield (o, g)
    val hits = graft.storage.Store.parallelIO(work) { case (o, g) =>
      DriverParquet.lookupRefsRangedMulti(store, o.key, o.size, nodeId, g)
    }.flatten
    val keys = wanted.toSet
    // page-level filtering can surface rows sharing the first four axes
    // with a candidate — keep exact-coordinate matches only
    hits.iterator.filter(r => keys.contains(r.coord))
      .map(r => (r.coord: Seq[Int]) -> r).toMap
  }

  // per-(manifestId, nodeId, split) file listings for the oversized
  // (uncacheable-refs) path: manifests are immutable so entries never
  // invalidate, and a batched wave of N concurrent lookups through ONE
  // split must pay ONE dir LIST, not N — S3 prices LIST at 12.5× a GET
  // (ADVICE r14). ObjectInfo is ~100 B and splits hold a handful of
  // data files, so 1024 entries is a few hundred KB.
  private val splitFilesCache = new java.util.LinkedHashMap[
      (String, String, Int), Seq[graft.storage.ObjectInfo]](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, String, Int), Seq[graft.storage.ObjectInfo]]): Boolean =
      size() > 1024
  }

  // in-flight coalescing for the FIRST wave: a batched lookup fires N
  // concurrent probes at the same cold split — only the first issues the
  // LIST, the rest block on its future (per-key, so a batch spanning M
  // splits still lists all M concurrently)
  private val splitFilesInflight = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int),
    java.util.concurrent.CompletableFuture[Seq[graft.storage.ObjectInfo]]]()

  /** One LIST of a whole manifest, which also seeds the per-shard file
    * listings, so the driver shard reads that follow pay no LIST of
    * their own (fsck lists every manifest of its closure anyway).
    */
  def listManifest(manifestId: String): Seq[graft.storage.ObjectInfo] = {
    val prefix = Layout.manifestPrefix(manifestId) + "/"
    val objs = store.list(prefix)
    val shardFile = """node_id=([^/]+)/split=(-?\d+)/[^/]+\.parquet""".r
    objs.flatMap(o => o.key.stripPrefix(prefix) match {
      case shardFile(node, split) => Some((manifestId, node, split.toInt) -> o)
      case _ => None
    }).groupMap(_._1)(_._2).foreach { case (k, fs) =>
      splitFilesCache.synchronized { splitFilesCache.put(k, fs); () }
    }
    objs
  }

  private def splitFiles(manifestId: String, nodeId: String,
                         split: Int): Seq[graft.storage.ObjectInfo] = {
    val key = (manifestId, nodeId, split)
    splitFilesCache.synchronized(Option(splitFilesCache.get(key))) match {
      case Some(fs) => fs
      case None =>
        val mine =
          new java.util.concurrent.CompletableFuture[
            Seq[graft.storage.ObjectInfo]]()
        val prev = splitFilesInflight.putIfAbsent(key, mine)
        if (prev != null)
          try prev.join()
          catch { case e: java.util.concurrent.CompletionException =>
            throw Option(e.getCause).getOrElse(e) }
        else try {
          // double-checked (ADVICE r15): a thread that missed the cache
          // AFTER the previous leader cached and removed its in-flight
          // future would otherwise become a new leader and re-issue the
          // LIST for a listing that is already sitting in the cache
          splitFilesCache.synchronized(Option(splitFilesCache.get(key))) match {
            case Some(fs) => mine.complete(fs); fs
            case None =>
              val prefix = s"${Layout.manifestPrefix(manifestId)}" +
                s"/node_id=$nodeId/split=$split/"
              val fs = store.list(prefix).filter(_.key.endsWith(".parquet"))
              // empty listings are NOT cached: a miss may be a not-yet-
              // visible write, and the negative result is cheap to re-check
              if (fs.nonEmpty)
                splitFilesCache.synchronized { splitFilesCache.put(key, fs); () }
              mine.complete(fs)
              fs
          }
        } catch {
          case e: Throwable => mine.completeExceptionally(e); throw e
        } finally splitFilesInflight.remove(key)
    }
  }

  /** All committed refs of the given nodes at a snapshot, as one DataFrame.
    * Reads only the (manifestId, node, split) partitions the snapshot
    * references — scans stay pruned even when manifests are shared across
    * snapshots.
    */
  def committedRefs(snapshot: Snapshot, nodeIds: Seq[String]): DataFrame = {
    val wanted = nodeIds.filter(snapshot.manifests.contains)
    val parts = for {
      node <- wanted
      ref <- snapshot.manifests(node)
    } yield (ref.manifestId, node, ref.split)
    committedRefsParts(parts)
  }

  /** Read the given (manifestId, nodeId, split) shards as one relation,
    * grouped so each manifest dataset opens ONCE — the shared scan under
    * single-snapshot reads and multi-snapshot rollups (GC reachability,
    * repo storage stats), where a deep history references the same
    * manifest files over and over: legs scale with DISTINCT manifests,
    * never with history depth.
    */
  def committedRefsParts(parts: Seq[(String, String, Int)]): DataFrame =
    if (parts.isEmpty) emptyRefs()
    else {
      parts.groupBy(_._1).map { case (mid, group) =>
        val keys = group.map { case (_, n, s) => (n, s) }.toSet
        val cond = keys.map { case (n, s) =>
          col("node_id") === n && col("split") === s
        }.reduce(_ || _)
        readManifest(mid).filter(cond)
      }.reduce(_ unionByName _)
    }

  /** Read exactly the given (node, split) shards of one node — the
    * all-dim extent-pruned scan feeding region reads ([[graft.repo
    * .Session.refsBounded]]). No `split` column in the output.
    */
  def refsOfSplits(nodeId: String, mrefs: Seq[ManifestRef]): DataFrame =
    if (mrefs.isEmpty) emptyRefs().drop("split")
    else mrefs.groupBy(_.manifestId).map { case (mid, group) =>
      val cond = group.map(r => col("split") === r.split).reduce(_ || _)
      readManifest(mid).filter(col("node_id") === nodeId && cond)
    }.reduce(_ unionByName _).drop("split")

  def emptyRefs(): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[ChunkRef].toDF().withColumn("split", lit(0))
  }

  // ---- transaction logs ----
  /** An amend's log absorbs the replaced tip's: each of its files is
    * copied into `to`'s log under a new name. Keys the two logs share
    * appear twice; every reader dedupes them (diff, merge, both conflict
    * detectors).
    */
  def copyTxLog(from: String, to: String): Unit = {
    val src = Layout.txLogPrefix(from) + "/"
    graft.storage.Store.parallelIO(
      store.list(src).filter(_.key.endsWith(".parquet"))) { o =>
      store.copy(o.key,
        s"${Layout.txLogPrefix(to)}/amend-$from-${o.key.stripPrefix(src)}")
    }
    ()
  }

  def readTxLog(snapshotId: String): DataFrame =
    spark.read.parquet(store.uri(Layout.txLogPrefix(snapshotId)))

  /** Many commits' tx logs as ONE multi-path scan. `diff` over a deep
    * chain must not union one leg per commit — at long histories
    * Catalyst plan analysis, not IO, becomes the cost. The explicit
    * schema skips footer-based inference across hundreds of paths.
    */
  def readTxLogs(snapshotIds: Seq[String]): DataFrame =
    if (snapshotIds.isEmpty) {
      import spark.implicits._
      spark.emptyDataset[EditRow].toDF()
    } else spark.read
      .schema(org.apache.spark.sql.Encoders.product[EditRow].schema)
      .parquet(snapshotIds.map(id => store.uri(Layout.txLogPrefix(id))): _*)

  /** One commit's tx-log rows read entirely DRIVER-side (no Spark job),
    * when the log is small enough to hold in memory — the common case for
    * interactive commits, and what keeps rebase retry loops job-free.
    * None ⇒ too large, use [[readTxLog]].
    */
  def readTxLogRowsDriver(snapshotId: String,
      maxBytes: Long = 8L * 1024 * 1024): Option[Seq[EditRow]] = {
    val files = store.list(Layout.txLogPrefix(snapshotId) + "/")
      .filter(_.key.endsWith(".parquet"))
    if (files.isEmpty || files.map(_.size).sum > maxBytes) None
    else Some(graft.storage.Store.parallelIO(files)(f =>
      DriverParquet.readEditRows(store.getBytes(f.key))).flatten)
  }

  def txLogExists(snapshotId: String): Boolean =
    store.list(Layout.txLogPrefix(snapshotId)).nonEmpty

  // ---- chunk blobs ----
  def writeChunk(bytes: Array[Byte]): String =
    Layout.publishChunk(store, bytes)

  /** Ranged chunk read — a 4 KB slice of a 128 MB chunk is one ranged GET,
    * not a whole-object fetch (get_object_range, storage.rs:196-206).
    * `cacheable = false` bypasses the chunk cache (the bulk-scan contract
    * of [[graft.storage.ChunkCache.getOrFetch]]).
    */
  def readChunk(id: String, offset: Long, length: Long,
                cacheable: Boolean = true): Array[Byte] = {
    val key = Layout.chunkKey(id)
    graft.storage.ChunkCache.getOrFetch(store, key, offset, length,
      cacheable)(store.getRangeSplit(key, offset, length))
  }
}

/** Per-(node_id, split) output of one fused-write task: the shard's
  * extents/count/bytes, exactly what [[ManifestRef]] needs — computed
  * from the rows the task just wrote, so no readback job exists.
  */
final case class FusedShardStat(node_id: String, split: Int,
    emin: Seq[Int], emax: Seq[Int], nrefs: Long, bytes: Long)

object AssetManager {
  /** One input row of the flush kernel: a chunk ref, the manifest split it
    * buckets into, and its precedence stamp — committed rows ride at −1,
    * strictly below every changeset stamp.
    */
  final case class FlushRow(ref: ChunkRef, split: Int, batch: Double)

  /** [[ChunkRef]]'s columns, in declaration order. */
  private[graft] val RefCols: Seq[String] = Seq("node_id", "coord", "c0",
    "c1", "c2", "c3", "kind", "inline", "chunk_id", "location", "offset",
    "length", "etag", "last_modified")

  /** Precedence among the rows of one (node_id, coord): `_batch desc`,
    * then every payload column. The payload tail makes the order total,
    * so duplicate coords within ONE staged batch pick the same winner on
    * every route, every task attempt and every read of the session.
    */
  val PrecedenceCols: Seq[org.apache.spark.sql.Column] =
    col("_batch").desc +: RefCols.drop(6).map(col)

  /** The flush kernel's input order, as Spark sort columns: (node_id,
    * split, c0..c3, coord), then [[PrecedenceCols]]. [[FlushOrder]] is
    * the same order on the driver.
    */
  val FlushSortCols: Seq[org.apache.spark.sql.Column] =
    Seq("node_id", "split", "c0", "c1", "c2", "c3", "coord").map(col) ++
      PrecedenceCols

  // Spark's ascending orders: nulls first; strings and binaries compare
  // as unsigned bytes (UTF-8 byte order is code-point order)
  private def cmpStr(a: String, b: String): Int =
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1
    else {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) Integer.compare(a.length, b.length)
      else {
        val (x, y) = (a.charAt(i), b.charAt(i))
        // a surrogate encodes a code point above every non-surrogate char
        if (Character.isSurrogate(x) == Character.isSurrogate(y))
          Integer.compare(x, y)
        else if (Character.isSurrogate(x)) 1 else -1
      }
    }

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int =
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1
    else java.util.Arrays.compareUnsigned(a, b)

  private def cmpCoord(a: Seq[Int], b: Seq[Int]): Int =
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1
    else {
      val n = math.min(a.size, b.size)
      var i = 0
      var c = 0
      while (c == 0 && i < n) { c = Integer.compare(a(i), b(i)); i += 1 }
      if (c != 0) c else Integer.compare(a.size, b.size)
    }

  /** [[FlushSortCols]] on the driver. */
  val FlushOrder: Ordering[FlushRow] = (x, y) => {
    val (a, b) = (x.ref, y.ref)
    var c = cmpStr(a.node_id, b.node_id)
    if (c == 0) c = Integer.compare(x.split, y.split)
    if (c == 0) c = Integer.compare(a.c0, b.c0)
    if (c == 0) c = Integer.compare(a.c1, b.c1)
    if (c == 0) c = Integer.compare(a.c2, b.c2)
    if (c == 0) c = Integer.compare(a.c3, b.c3)
    if (c == 0) c = cmpCoord(a.coord, b.coord)
    if (c == 0) c = java.lang.Double.compare(y.batch, x.batch) // desc
    if (c == 0) c = cmpStr(a.kind, b.kind)
    if (c == 0) c = cmpBytes(a.inline, b.inline)
    if (c == 0) c = cmpStr(a.chunk_id, b.chunk_id)
    if (c == 0) c = cmpStr(a.location, b.location)
    if (c == 0) c = java.lang.Long.compare(a.offset, b.offset)
    if (c == 0) c = java.lang.Long.compare(a.length, b.length)
    if (c == 0) c = cmpStr(a.etag, b.etag)
    if (c == 0) c = Integer.compare(a.last_modified, b.last_modified)
    c
  }

  /** Last-writer-wins precedence over a stream in [[FlushOrder]]: the
    * rows of one (node_id, coord) are adjacent with the highest stamp
    * first, so the first row of each run is the winner and the rest are
    * dropped — the window's row_number() = 1, inlined.
    */
  def precedence(rows: Iterator[FlushRow]): Iterator[FlushRow] = {
    var last: ChunkRef = null
    rows.filter { r =>
      val win = last == null || r.ref.node_id != last.node_id ||
        r.ref.coord != last.coord
      last = r.ref
      win
    }
  }

  /** Where the Spark route's tasks write the keys the flush kernel logs:
    * one `EditRow.chunk(node, path, coord)` per (node_id, coord) whose
    * precedence winner is a CHANGESET row (`batch >= 0`), as tx-log
    * shards under `prefix`. A key has a changeset row iff the changeset
    * edited it, and then its winner stamps ≥ 0, since −1 sorts below
    * every changeset stamp — so the log holds exactly the distinct
    * changed keys, tombstones and keys of nodes without a grid included,
    * at zero extra jobs.
    */
  final case class FusedTxSpec(prefix: String, pathOf: Map[String, String])

  private[meta] def manifestRefs(id: String, stats: Seq[FusedShardStat])
      : Map[String, Seq[ManifestRef]] =
    stats.groupBy(_.node_id).map { case (node, rs) =>
      node -> rs.map(s =>
        ManifestRef(id, s.split, s.emin, s.emax, s.nrefs, s.bytes))
    }

  /** The Spark route's task (executor-side; everything it captures is
    * serializable): the kernel over the task's sorted partition, writing
    * through the executor's cached store, its logged keys streamed into
    * one tx-log shard per task (`part-<partition>-fused.zstd.parquet`
    * under `txFusion.prefix`).
    */
  private[meta] def fusedWritePartition(id: String,
      conf: graft.storage.StoreConf,
      grids: Map[String, Array[Int]],
      txFusion: Option[FusedTxSpec])(
      rows: Iterator[FlushRow]): Iterator[FusedShardStat] = {
    val store = graft.storage.StoreConf.cached(conf)
    var txWriter: DriverParquet.EditRowShardWriter = null
    try {
      val shards = flushKernel(id, grids, keepWinners = false,
        store.putBytes, (node, coord) => txFusion.foreach { tx =>
          if (txWriter == null) txWriter = new DriverParquet.EditRowShardWriter
          txWriter.append(EditRow.Chunk, node, tx.pathOf.getOrElse(node, null),
            coord, null)
        })(rows)
      txFusion.foreach { tx =>
        if (txWriter != null) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val bytes = txWriter.closeBytes()
          txWriter = null
          store.putBytes(f"${tx.prefix}/part-$pid%05d-fused.zstd.parquet",
            bytes)
        }
      }
      shards.iterator.map(_._1)
    } catch {
      case t: Throwable =>
        if (txWriter != null) txWriter.abort()
        throw t
    }
  }

  /** The flush kernel, shared by the driver and Spark routes. Input rows
    * arrive in [[FlushOrder]]; the pass streams the [[precedence]]
    * winners with O(1) state per open shard:
    *
    *  - (node_id, split) group change ⇒ finish the previous shard's file
    *    (`put` at the exact partition-dir key every reader expects) and
    *    emit its [[FusedShardStat]] — extents, ref count, byte sum — plus,
    *    when `keepWinners`, the refs it holds;
    *  - every winner of a changeset row logs its key (`logKey`);
    *  - a winner with `kind = delete` suppresses the key (tombstone);
    *  - a winner outside the node's chunk grid (wrong arity or any
    *    per-dim index outside [0, n)) is dropped — the flush bounds
    *    filter, applied AFTER precedence (an out-of-bounds winner removes
    *    the key; an older in-bounds row must NOT resurface).
    *
    * Nodes absent from `grids` (edited, but no longer arrays) are logged
    * and write no shard.
    */
  private[meta] def flushKernel(id: String,
      grids: Map[String, Array[Int]],
      keepWinners: Boolean,
      put: (String, Array[Byte]) => Unit,
      logKey: (String, Seq[Int]) => Unit)(
      rows: Iterator[FlushRow]): Seq[(FusedShardStat, Seq[ChunkRef])] = {
    val out = scala.collection.mutable.ArrayBuffer[(FusedShardStat, Seq[ChunkRef])]()
    var curNode: String = null
    var curSplit = 0
    var grpOpen = false
    var grid: Array[Int] = null
    var writer: DriverParquet.ChunkRefShardWriter = null
    val winners = scala.collection.mutable.ArrayBuffer[ChunkRef]()
    var mins: Array[Int] = null
    var maxs: Array[Int] = null
    var count = 0L
    var sumBytes = 0L
    def flushGroup(): Unit = {
      if (writer != null) {
        val bytes = writer.closeBytes()
        writer = null
        put(s"${Layout.manifestPrefix(id)}/node_id=$curNode" +
          s"/split=$curSplit/part-00000-fused.zstd.parquet", bytes)
        out += (FusedShardStat(curNode, curSplit,
          mins.toSeq, maxs.toSeq, count, sumBytes) -> winners.toSeq)
        winners.clear()
      }
      grpOpen = false
    }
    try {
      precedence(rows).foreach { fr =>
        val r = fr.ref
        if (!grpOpen || r.node_id != curNode || fr.split != curSplit) {
          flushGroup()
          curNode = r.node_id; curSplit = fr.split; grpOpen = true
          grid = grids.getOrElse(curNode, null)
          val nd = if (grid == null) 0 else grid.length
          mins = Array.fill(nd)(Int.MaxValue)
          maxs = Array.fill(nd)(Int.MinValue)
          count = 0L; sumBytes = 0L
        }
        val coord = r.coord
        if (coord != null) {
          if (fr.batch >= 0) logKey(curNode, coord) // a changeset key
          if (r.kind != ChunkRef.KindDelete && grid != null &&
              coord.size == grid.length) {
            var i = 0; var ok = true
            while (ok && i < grid.length) {
              val c = coord(i)
              if (c < 0 || c >= grid(i)) ok = false
              i += 1
            }
            if (ok) {
              if (writer == null)
                writer = new DriverParquet.ChunkRefShardWriter
              writer.append(coord, r.c0, r.c1, r.c2, r.c3, r.kind, r.inline,
                r.chunk_id, r.location, r.offset, r.length, r.etag,
                r.last_modified)
              if (keepWinners) winners += r
              var d = 0
              while (d < grid.length) {
                val c = coord(d)
                if (c < mins(d)) mins(d) = c
                if (c > maxs(d)) maxs(d) = c
                d += 1
              }
              count += 1L
              sumBytes += r.length
            }
          }
        }
      }
      flushGroup()
    } catch {
      case t: Throwable =>
        if (writer != null) writer.abort()
        throw t
    }
    out.toSeq
  }
}
