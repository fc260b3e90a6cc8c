package graft.tools

import graft.repo._
import graft.storage.Store

/** Command-line interface over the engine (the reference ships the same
  * surface: repo/branch/tag subcommands, icechunk/src/cli/interface.rs:
  * 37-140).
  *
  * {{{
  *   runMain graft.tools.Cli <repoDir> init
  *   runMain graft.tools.Cli <repoDir> log [ref] | log --graph
  *   runMain graft.tools.Cli <repoDir> branch list|create <n> [ref]|delete <n>|reset <n> <snap>
  *   runMain graft.tools.Cli <repoDir> tag list|create <n> [ref]|delete <n>
  *   runMain graft.tools.Cli <repoDir> ls [prefix]
  *   runMain graft.tools.Cli <repoDir> mv <from> <to>
  *   runMain graft.tools.Cli <repoDir> inspect
  *   runMain graft.tools.Cli <repoDir> ops [n]
  *   runMain graft.tools.Cli <repoDir> diff <from> <to>
  *   runMain graft.tools.Cli <repoDir> gc [--dry-run]
  *   runMain graft.tools.Cli <repoDir> compact
  *   runMain graft.tools.Cli <repoDir> config [show|set <key> <value>]
  *   runMain graft.tools.Cli <repoDir> log --svg
  * }}}
  */
object Cli {
  private def usage(): Nothing = {
    System.err.println(
      "usage: Cli <repoDir> init|log|branch|tag|ls|mv|inspect|ops|diff|" +
        "gc|compact|push|fsck|rechunk|import|export|flags|config|" +
        "status|metadata ...")
    sys.exit(2)
  }

  /** Shared prefixed grammar (branch:/tag:/snapshot:/asof:); bare names
    * resolve branch → tag → snapshot id, like the SQL catalog.
    */
  private def parseRef(repo: Repository, s: String): VersionRef =
    graft.sources.GraftTableProvider.parseVersion(s, bare =>
      if (repo.lookupBranch(bare).isDefined) VersionRef.Branch(bare)
      else if (repo.lookupTag(bare).isDefined) VersionRef.Tag(bare)
      else VersionRef.SnapshotVer(bare))

  def main(args: Array[String]): Unit = {
    if (args.length < 2) usage()
    val dir = args(0)
    val cmd = args(1)
    val rest = args.drop(2).toList
    val spark = LocalSpark.session(4, "ERROR")
    var failed = false
    try {
      if (cmd == "init") {
        val repo = Repository.create(Store.local(dir), spark)
        println(s"initialized repository at $dir " +
          s"(main -> ${repo.lookupBranch("main").get})")
        return
      }
      val repo = Repository.open(Store.local(dir), spark)
      (cmd, rest) match {
        case ("log", "--graph" :: _) =>
          print(graft.vc.AncestryGraph.render(repo))
        case ("log", "--svg" :: _) =>
          print(graft.vc.AncestryGraph.renderSvg(repo))
        case ("log", refName) =>
          val ref = refName.headOption.map(parseRef(repo, _))
            .getOrElse(VersionRef.Branch("main"))
          repo.ancestry(ref).foreach(s =>
            println(f"${s.id}  ${s.flushedAt}%-27s ${s.message}"))
        case ("branch", "list" :: _) | ("branch", Nil) =>
          repo.listBranches().foreach { b =>
            println(s"$b -> ${repo.lookupBranch(b).get}")
          }
        case ("branch", "create" :: name :: refName) =>
          val at = refName.headOption.map(r => repo.resolveVersion(
            parseRef(repo, r))).getOrElse(
            repo.lookupBranch("main").get)
          repo.createBranch(name, at); println(s"created branch $name @ $at")
        case ("branch", "delete" :: name :: Nil) =>
          repo.deleteBranch(name); println(s"deleted branch $name")
        case ("branch", "reset" :: name :: snap :: Nil) =>
          repo.resetBranch(name, snap); println(s"reset $name -> $snap")
        case ("tag", "list" :: _) | ("tag", Nil) =>
          repo.listTags().foreach(t =>
            println(s"$t -> ${repo.lookupTag(t).get}"))
        case ("tag", "create" :: name :: refName) =>
          val at = refName.headOption.map(r => repo.resolveVersion(
            parseRef(repo, r))).getOrElse(repo.lookupBranch("main").get)
          repo.createTag(name, at); println(s"created tag $name @ $at")
        case ("tag", "delete" :: name :: Nil) =>
          repo.deleteTag(name); println(s"deleted tag $name (tombstoned)")
        case ("ls", prefix) =>
          val session = repo.readonlySession(VersionRef.Branch("main"))
          session.listNodes(prefix.headOption.getOrElse("/")).foreach { n =>
            val extra = if (n.isArray)
              s"  array shape=[${n.shape.mkString(",")}]" else "  group"
            println(s"${n.path}$extra")
          }
        case ("inspect", "--manifests" :: refName) =>
          val ref = refName.headOption.map(parseRef(repo, _))
            .getOrElse(VersionRef.Branch("main"))
          repo.inspectManifests(ref).collect().foreach(println)
        case ("inspect", _) =>
          repo.inspect().orderBy("flushed_at").collect().foreach(println)
        case ("ops", n) =>
          repo.opsLog(n.headOption.map(_.toInt).getOrElse(20)).foreach(e =>
            println(f"${e.ts}%-30s ${e.op}%-16s ${e.detail}"))
        case ("diff", from :: to :: Nil) =>
          repo.diff(parseRef(repo, from), parseRef(repo, to))
            .orderBy("edit", "path").collect().foreach(println)
        case ("compare", a :: b :: Nil) =>
          val c = repo.compareRefs(parseRef(repo, a), parseRef(repo, b))
          println(s"$a is ahead ${c.ahead}, behind ${c.behind} of $b " +
            s"(merge base ${c.mergeBase.getOrElse("<none>")})")
        case ("merge", src :: dst :: Nil) =>
          val tip = repo.mergeBranch(src, dst)
          println(s"merged $src into $dst -> $tip")
        case ("gc", flags) =>
          val summary = graft.ops.GC.garbageCollect(repo,
            java.time.Instant.now().minusSeconds(3600),
            dryRun = flags.contains("--dry-run"))
          println(summary)
        case ("mv", from :: to :: Nil) =>
          val rs = repo.rearrangeSession("main")
          rs.moveNode(from, to)
          val id = rs.commit(s"move $from -> $to")
          println(s"moved $from -> $to ($id)")
        case ("compact", _) =>
          val id = graft.ops.Compaction.rewriteManifests(repo, "main")
          println(s"compacted -> $id")
        case ("fsck", refName) =>
          val r = refName.headOption.getOrElse("main")
          val problems = graft.ops.Integrity.check(repo, r).collect()
          if (problems.isEmpty) println(s"fsck $r: healthy")
          else {
            problems.foreach(p => println(
              s"fsck ${p.getString(0)} ${p.getString(1)} ${p.getString(2)}"))
            failed = true
          }
        case ("push", refName :: dstDir :: pushFlags) =>
          val depth = pushFlags.sliding(2).collectFirst {
            case List("--depth", n) => n.toInt }.getOrElse(Int.MaxValue)
          val existsVia = pushFlags.sliding(2).collectFirst {
            case List("--exists-via", m) => m }.getOrElse("auto")
          val sum = graft.ops.Replicate.sync(repo, Store.local(dstDir),
            refName, force = pushFlags.contains("--force"), depth = depth,
            existsVia = existsVia)
          println(s"pushed $refName@${sum.snapshotId.take(12)} -> $dstDir " +
            s"(snapshots=${sum.snapshotsCopied} chunks=${sum.chunksCopied} " +
            s"bytes=${sum.chunkBytesCopied} skipped=${sum.chunksSkipped})")
        case ("export", refName :: dstDir :: exportRest) =>
          val ro = repo.readonlySession(parseRef(repo, refName))
          // the stored payloads are written verbatim — the caller must
          // declare their true codec or the exported zarr.json mislabels
          // them (raw | gzip | zstd); --shard k0,k1,... groups that many
          // chunks per dim into sharding_indexed objects
          val shard = exportRest.dropWhile(_ != "--shard").drop(1)
            .headOption.map(_.split(",").toSeq.map(_.trim.toInt))
            .getOrElse(Nil)
          val comp = exportRest.filterNot(_.startsWith("--"))
            .filterNot(a => shard.nonEmpty &&
              a == shard.mkString(",")).headOption.getOrElse("raw")
          val nChunks = graft.ops.ZarrExport.exportStore(ro,
            Store.local(dstDir), compression = comp, shardChunks = shard)
          val unit = if (shard.isEmpty) "chunk" else "shard"
          println(s"exported $refName -> $dstDir " +
            s"($nChunks $unit objects, plain zarr v3, codec=$comp)")
        case ("import", srcDir :: importFlags) =>
          val id = graft.ops.ZarrImport.importStore(repo, "main",
            Store.local(srcDir), copy = importFlags.contains("--copy"))
          println(s"imported zarr store $srcDir -> $id " +
            (if (importFlags.contains("--copy")) "(copied)"
             else "(virtual refs)"))
        case ("rechunk", path :: chunks :: dtype :: restFlags) =>
          val newChunks = chunks.split(",").map(_.trim.toLong).toSeq
          val rs = repo.writableSession("main")
          graft.tensor.TensorPlane.rechunk(rs, path, newChunks, dtype,
            restFlags.headOption.getOrElse("raw"))
          val id = rs.commit(
            s"rechunk $path -> ${newChunks.mkString("x")}")
          println(s"rechunked $path -> ${newChunks.mkString("x")} ($id)")
        case ("flags", Nil) | ("flags", "list" :: _) =>
          val known = Seq(repo.Flags.MoveNode, repo.Flags.Amend,
            repo.Flags.Expire)
          val set = repo.info().flags
          (known ++ set.keys).distinct.foreach(f =>
            println(s"$f = ${set.getOrElse(f, true)}"))
        case ("flags", "set" :: name :: value :: Nil) =>
          repo.setFeatureFlag(name, value.toBoolean)
          println(s"$name = $value")
        case ("config", Nil) | ("config", "show" :: _) =>
          repo.config.toMap.toSeq.sortBy(_._1).foreach { case (k, v) =>
            println(s"$k = $v")
          }
        case ("config", "set" :: key :: value :: Nil) =>
          val updated = GraftConfig.fromMap(
            repo.config.toMap.updated(key, value))
          repo.saveConfig(updated)
          println(s"$key = $value (applies to future opens)")
        case ("status", Nil) =>
          val st = repo.status
          println((if (st.readOnly) "read_only" else "online") +
            st.reason.map(r => s" ($r)").getOrElse("") +
            st.setAt.map(t => s" since $t").getOrElse(""))
        case ("status", "readonly" :: reasonWords) =>
          repo.setStatus(readOnly = true, reasonWords.mkString(" "))
          println("read_only")
        case ("status", "online" :: Nil) =>
          repo.setStatus(readOnly = false)
          println("online")
        case ("metadata", Nil) | ("metadata", "show" :: _) =>
          repo.metadata.toSeq.sortBy(_._1).foreach { case (k, v) =>
            println(s"$k = ${graft.meta.SnapshotProps.write(v)}")
          }
        case ("metadata", "set" :: key :: value :: Nil) =>
          repo.updateMetadata(
            Map(key -> graft.meta.SnapshotProps.read(value)))
          println(s"$key = $value")
        case _ => usage()
      }
    } catch {
      // stable machine-readable failure codes (#2267): tooling matches
      // on `error[<kind>]`, never on the prose. The exit happens AFTER
      // the finally below — sys.exit inside the catch would skip
      // spark.stop().
      case e: GraftException =>
        System.err.println(s"error[${e.kind}]: ${e.getMessage}")
        failed = true
    } finally spark.stop()
    if (failed) sys.exit(1)
  }
}
