package graft

import graft.repo._
import graft.storage._
import graft.storage.s3.{S3MemServer, S3Store}

/** Storage-backend conformance — every [[Store]] implementation must pass
  * the same contract (mirrors the behaviors covered by the reference's
  * icechunk/tests/test_storage.rs conformance suite): round-trips, ranged
  * reads, conditional create, ordered paged listings, batched delete,
  * server-side copy, multipart upload. Runs over LocalStore and over
  * [[S3Store]] against the in-process S3 server.
  */
class StorageConformanceSpec extends SparkTestBase {

  private def s3Fixture(): (S3MemServer, Store) = {
    val server = new S3MemServer
    server.createBucket("graft-test")
    val store = Store.s3(S3StoreConf(server.endpoint, "us-east-1",
      "graft-test", prefix = "repo1",
      accessKey = "testkey", secretKey = "testsecret",
      multipartThresholdBytes = 256 * 1024, multipartPartBytes = 100 * 1024))
    (server, store)
  }

  private def backends: Seq[(String, () => (Store, () => Unit))] = Seq(
    "local" -> (() => (Store.local(tmpDir("conf-local")), () => ())),
    "s3" -> (() => {
      val (server, store) = s3Fixture()
      (store, () => server.stop())
    }),
    "gcs" -> (() => {
      val server = new graft.storage.gcs.GcsMemServer
      server.createBucket("graft-gcs")
      val store = GcsStoreConf(server.endpoint, "graft-gcs",
        prefix = "repo1", bearerToken = "test-token").open()
      (store, () => server.stop())
    }),
    "azure" -> (() => {
      val server = new graft.storage.az.AzureMemServer
      server.createContainer("graft-az")
      val store = AzureStoreConf(server.endpoint, "testacct", "graft-az",
        prefix = "repo1", sasToken = "sv=test&sig=abc").open()
      (store, () => server.stop())
    }))

  for ((name, mk) <- backends) {
    test(s"$name: put/get/exists/delete round-trip") {
      val (store, close) = mk()
      try {
        val payload = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
        store.putBytes("a/b/obj1", payload)
        assert(store.exists("a/b/obj1"))
        assert(store.getBytes("a/b/obj1").toSeq == payload.toSeq)
        assert(!store.exists("a/b/nope"))
        intercept[Exception](store.getBytes("a/b/nope"))
        store.delete(Seq("a/b/obj1"))
        assert(!store.exists("a/b/obj1"))
      } finally close()
    }

    test(s"$name: ranged reads return exact slices") {
      val (store, close) = mk()
      try {
        val payload = Array.tabulate[Byte](100000)(i => (i % 127).toByte)
        store.putBytes("r/obj", payload)
        assert(store.getRange("r/obj", 0, -1).toSeq == payload.toSeq)
        assert(store.getRange("r/obj", 500, 1000).toSeq ==
          payload.slice(500, 1500).toSeq)
        assert(store.getRange("r/obj", 99990, 1000).toSeq ==
          payload.slice(99990, 100000).toSeq) // clamped at EOF
        assert(store.getRange("r/obj", 50000, -1).toSeq ==
          payload.drop(50000).toSeq) // open-ended
        assert(store.getRange("r/obj", 200000, 10).isEmpty) // past EOF
      } finally close()
    }

    test(s"$name: split GETs stitch concurrent ranged parts in order") {
      val (store, close) = mk()
      try {
        // 1 MiB object, 64 KiB ideal => 8 concurrent parts (capped)
        val payload = Array.tabulate[Byte](1 << 20)(i => (i * 31 % 251).toByte)
        store.putBytes("r/big", payload)
        val full = store.getRangeSplit("r/big", 0, payload.length,
          idealBytes = 64 * 1024, maxConcurrent = 8)
        assert(full.toSeq == payload.toSeq)
        val mid = store.getRangeSplit("r/big", 1000, 500000,
          idealBytes = 64 * 1024, maxConcurrent = 4)
        assert(mid.toSeq == payload.slice(1000, 501000).toSeq)
        // requested range runs past EOF: result shrinks to what exists
        val tail = store.getRangeSplit("r/big", payload.length - 1000,
          300000, idealBytes = 64 * 1024, maxConcurrent = 4)
        assert(tail.toSeq == payload.takeRight(1000).toSeq)
        // small requests degrade to a single plain getRange
        assert(store.getRangeSplit("r/big", 10, 100).toSeq ==
          payload.slice(10, 110).toSeq)
      } finally close()
    }

    test(s"$name: putIfAbsent is an atomic conditional create") {
      val (store, close) = mk()
      try {
        assert(store.putIfAbsent("cas/key", Array[Byte](1)))
        assert(!store.putIfAbsent("cas/key", Array[Byte](2)))
        assert(store.getBytes("cas/key").toSeq == Seq[Byte](1)) // loser wrote nothing
        // race many writers on one key: exactly one wins
        import scala.concurrent._
        import scala.concurrent.duration._
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val wins = Await.result(Future.sequence((0 until 16).map(i =>
          Future(store.putIfAbsent("cas/contended", Array[Byte](i.toByte))))),
          60.seconds)
        pool.shutdown()
        assert(wins.count(identity) == 1)
      } finally close()
    }

    test(s"$name: listPage pages lexicographically with start-after") {
      val (store, close) = mk()
      try {
        val keys = (0 until 25).map(i => f"list/k$i%03d")
        keys.foreach(k => store.putBytes(k, Array[Byte](1)))
        store.putBytes("other/x", Array[Byte](1))
        val p1 = store.listPage("list/", None, 10)
        assert(p1.map(_.key) == keys.take(10))
        val p2 = store.listPage("list/", Some(p1.last.key), 10)
        assert(p2.map(_.key) == keys.slice(10, 20))
        val p3 = store.listPage("list/", Some(p2.last.key), 10)
        assert(p3.map(_.key) == keys.slice(20, 25))
        assert(store.list("list/").size == 25)
        assert(store.listPage("list/k01", None, 100).map(_.key) ==
          keys.filter(_.startsWith("list/k01")))
      } finally close()
    }

    test(s"$name: listBounded reports truncation honestly (empty-page/" +
        "native end signals, never a short page)") {
      val (store, close) = mk()
      try {
        val keys = (0 until 25).map(i => f"lb/k$i%03d")
        keys.foreach(k => store.putBytes(k, Array[Byte](1)))
        // under the bound: the COMPLETE listing, not truncated
        val (all, t1) = store.listBounded("lb/", 25)
        assert(!t1 && all.map(_.key).sorted == keys, s"got ${all.size}")
        val (all2, t2) = store.listBounded("lb/", 1000)
        assert(!t2 && all2.size == 25)
        // over the bound: truncated=true and a PARTIAL listing — the
        // caller must switch to a distributed path (GC's chunk sweep);
        // silently reporting "done" after one short server page was the
        // failure mode this contract exists to kill
        val (part, t3) = store.listBounded("lb/", 10)
        assert(t3, "25 objects at max=10 must report truncation")
        assert(part.nonEmpty && part.size <= 25 &&
          part.map(_.key).distinct.size == part.size)
        // empty namespace: clean non-truncated empty
        val (none, t4) = store.listBounded("lb-none/", 10)
        assert(none.isEmpty && !t4)
      } finally close()
    }

    test(s"$name: list supports partial-filename prefixes") {
      // push's existsVia=list fans `chunks/` into character-sliced
      // prefix pages — every backend must honor object-store prefix
      // semantics for a prefix that is half a filename (the local
      // backend resolved it as a literal path until r12, silently
      // returning Nil for every slice)
      val (store, close) = mk()
      try {
        Seq("pp/AX1", "pp/AX2", "pp/AY3", "pp/B9", "pp/AXsub/deep")
          .foreach(k => store.putBytes(k, Array[Byte](1)))
        assert(store.list("pp/AX").map(_.key).sorted ==
          Seq("pp/AX1", "pp/AX2", "pp/AXsub/deep"))
        assert(store.list("pp/A").size == 4)
        assert(store.list("pp/C").isEmpty)
        assert(store.list("pp/").size == 5)
      } finally close()
    }

    test(s"$name: batched delete and deletePrefix") {
      val (store, close) = mk()
      try {
        (0 until 30).foreach(i => store.putBytes(s"del/k$i", Array[Byte](1)))
        store.delete((0 until 10).map(i => s"del/k$i"))
        assert(store.list("del/").size == 20)
        store.deletePrefix("del/")
        assert(store.list("del/").isEmpty)
      } finally close()
    }

    test(s"$name: keys with '+', '%', spaces and unicode round-trip") {
      val (store, close) = mk()
      try {
        // (non-ASCII keys excluded: the test JVM's sun.jnu.encoding can't
        // create such local files; S3 handles them via percent-encoding)
        val keys = Seq("sp/a+b", "sp/100%done", "sp/with space",
          "sp/mix +%20+ x")
        keys.zipWithIndex.foreach { case (k, i) =>
          store.putBytes(k, Array[Byte](i.toByte))
        }
        keys.zipWithIndex.foreach { case (k, i) =>
          assert(store.exists(k), k)
          assert(store.getBytes(k).toSeq == Seq(i.toByte), k)
        }
        assert(store.list("sp/").map(_.key).sorted == keys.sorted)
        store.copy("sp/a+b", "sp/c+d")
        assert(store.getBytes("sp/c+d").toSeq == Seq[Byte](0))
        store.delete(keys :+ "sp/c+d")
        assert(store.list("sp/").isEmpty)
      } finally close()
    }

    test(s"$name: copy duplicates an object without touching the source") {
      val (store, close) = mk()
      try {
        val payload = "copy me".getBytes
        store.putBytes("cp/src", payload)
        store.copy("cp/src", "cp/dst")
        assert(store.getBytes("cp/dst").toSeq == payload.toSeq)
        assert(store.getBytes("cp/src").toSeq == payload.toSeq)
      } finally close()
    }
  }

  test("decorated stores forward listBounded to the native bounded probe " +
      "(one inner op, zero per-page re-walks — VERDICT r15 item 1)") {
    // LocalStore's native listBounded is ONE directory walk; the trait
    // default pages through listPage, which re-walks the tree per
    // 1,000-key page (quadratic), and a decorated S3Store would lose the
    // native IsTruncated early-exit. A decorator that fails to forward
    // silently reintroduces both — pin via the op counts of a counting
    // store UNDER each decorator.
    val raw = Store.local(tmpDir("conf-fwd"))
    (0 until 25).foreach(i => raw.putBytes(f"fw/k$i%03d", Array[Byte](1)))
    val decorators: Seq[(String, Store => Store)] = Seq(
      "logging" -> (s => new LoggingStore(s, _ => ())),
      "retrying" -> (s => new RetryingStore(s)),
      "latency" -> (s => new LatencyStore(s, 0)),
      "scheduled" -> (s => new ScheduledStore(s, (_, _) => ())),
      "graft-uri" -> (s => new GraftUriStore(s, "fwd")),
      "skewed-clock" -> (s => new SkewedClockStore(s, 1000)),
      "flaky" -> (s => new FlakyStore(s, 0)),
      "lost-response" -> (s => new LostResponseStore(s, 0)))
    for ((dn, mkDec) <- decorators) {
      val counting = new LoggingStore(raw, _ => ())
      val handle = mkDec(counting)
      val (objs, t) = handle.listBounded("fw/", 1000)
      assert(!t && objs.size == 25, s"$dn: ${objs.size} truncated=$t")
      assert(Option(counting.counts.get("listBounded"))
        .map(_.get()).contains(1L),
        s"$dn did not reach the native probe: ${counting.counts}")
      assert(!counting.counts.containsKey("listPage") &&
        !counting.counts.containsKey("list"),
        s"$dn fell back to trait-default paging: ${counting.counts}")
      val (_, t2) = handle.listBounded("fw/", 10)
      assert(t2, s"$dn dropped the truncation flag")
    }
    // the skewed-clock decorator must still shift mtimes through the
    // forward (GC's age guard reads these)
    val base = raw.listBounded("fw/", 1000)._1
      .map(o => o.key -> o.mtimeMillis).toMap
    new SkewedClockStore(raw, 123456L).listBounded("fw/", 1000)._1
      .foreach(o => assert(o.mtimeMillis == base(o.key) + 123456L, o.key))
    // redirect: the bounded probe consults every overlapping store and
    // reports truncation across the merged view
    val other = Store.local(tmpDir("conf-fwd2"))
    (0 until 5).foreach(i => other.putBytes(s"fw/extra$i", Array[Byte](1)))
    val rd = new RedirectStore(raw, Seq("fw/extra" -> other))
    val (merged, mt) = rd.listBounded("fw/", 1000)
    assert(!mt && merged.size == 30, s"${merged.size} truncated=$mt")
    assert(rd.listBounded("fw/", 10)._2, "redirect dropped truncation")
  }

  test("s3: an empty IsTruncated=true page RESUMES via " +
      "NextContinuationToken; without a token it is honestly partial, " +
      "never silently complete (ADVICE r15)") {
    val (server, store) = s3Fixture()
    try {
      (0 until 5).foreach(i => store.putBytes(s"et/k$i", Array[Byte](1)))
      // the in-spec shape (internal page boundary WITH a token): both
      // listing forms resume through it and return the COMPLETE listing
      server.emptyTruncatedPages = 1
      val (all0, t0) = store.listBounded("et/", 1000)
      assert(all0.size == 5 && !t0,
        s"token resume failed: ${all0.size} truncated=$t0")
      server.emptyTruncatedPages = 1
      assert(store.list("et/").size == 5, "list() did not resume via token")
      assert(server.opCount("list_empty_truncated") == 2)
      // the out-of-spec shape (no token): no resume handle exists — the
      // old loop stopped AND returned truncated=false, a partial listing
      // passed off as complete (GC under-collection, Replicate
      // under-copy); now listBounded reports TRUNCATED and list() fails
      // loud
      server.emptyTruncatedNoTokenPages = 1
      val (part, t) = store.listBounded("et/", 1000)
      assert(t, s"partial listing (${part.size} keys) reported complete")
      server.emptyTruncatedNoTokenPages = 1
      intercept[java.io.IOException](store.list("et/"))
      // clean runs still list fully and un-truncated
      assert(store.list("et/").size == 5)
      val (all, t2) = store.listBounded("et/", 1000)
      assert(all.size == 5 && !t2)
    } finally server.stop()
  }

  test("s3: HTTP 200 with embedded <Error> body is NOT a completed copy") {
    // the documented slow-copy quirk: CopyObject commits the 200 status
    // line before the copy finishes, so a late failure arrives as an
    // <Error> INSIDE the body — a client that only checks the status
    // counts a failed copy as copied and the replica ref dangles
    val (server, store) = s3Fixture()
    try {
      val s3 = store.asInstanceOf[S3Store]
      store.putBytes("cq/src", "payload".getBytes)
      server.slowCopyErrors = 1
      intercept[TransientStorageException](s3.copy("cq/src", "cq/dst"))
      // the transfer kernel's transient retry turns the quirk into a
      // completed copy on the second attempt
      val dst = Store.s3(S3StoreConf(server.endpoint, "us-east-1",
        "graft-test", prefix = "repo2",
        accessKey = "testkey", secretKey = "testsecret"))
      server.slowCopyErrors = 1
      assert(Transfer.copyIfAbsent(store, dst, "cq/src").contains(7L))
      assert(dst.getBytes("cq/src").toSeq == "payload".getBytes.toSeq)
      assert(server.opCount("copy_200_error") >= 2)
    } finally server.stop()
  }

  test("s3: objects over the single-copy cap route through UploadPartCopy") {
    val server = new S3MemServer
    server.createBucket("graft-test")
    // a 64 KiB cap forces the multipart-copy route on a 200 KiB object
    val mk = (prefix: String) => Store.s3(S3StoreConf(server.endpoint,
      "us-east-1", "graft-test", prefix = prefix,
      accessKey = "k", secretKey = "s",
      multipartPartBytes = 48 * 1024, copyMaxBytes = 64 * 1024))
    val src = mk("a"); val dst = mk("b")
    try {
      val big = Array.tabulate[Byte](200 * 1024)(i => (i % 97).toByte)
      src.putBytes("mc/big", big)
      assert(Transfer.copyIfAbsent(src, dst, "mc/big")
        .contains(big.length.toLong))
      assert(dst.getBytes("mc/big").toSeq == big.toSeq)
      // the payload moved via copy-source part requests, not client PUTs
      assert(server.opCount("copy_part") >= 4,
        s"expected UploadPartCopy parts, got ${server.opCounts}")
      assert(server.opCount("copy") == 0, "single CopyObject above the cap")
      // small objects still take single CopyObject
      src.putBytes("mc/small", "tiny".getBytes)
      assert(Transfer.copyIfAbsent(src, dst, "mc/small").contains(4L))
      assert(server.opCount("copy") == 1)
    } finally server.stop()
  }

  test("azure: an async 202/pending Copy Blob fails loudly, never lands" +
      " as copied") {
    val server = new graft.storage.az.AzureMemServer
    server.createContainer("az1"); server.createContainer("az2")
    val src = AzureStoreConf(server.endpoint, "acct", "az1",
      sasToken = "sv=t&sig=x").open()
    val dst = AzureStoreConf(server.endpoint, "acct", "az2",
      sasToken = "sv=t&sig=x").open()
    try {
      src.putBytes("ac/obj", "blobdata".getBytes)
      // armed: the service schedules the copy (202 pending) instead of
      // completing it — x-ms-requires-sync + the status check must
      // refuse to report success while the destination blob is absent
      server.asyncPendingCopies = 10 // beyond the transient-retry budget
      intercept[TransientStorageException](
        Transfer.copyIfAbsent(src, dst, "ac/obj"))
      server.asyncPendingCopies = 0
      assert(!dst.exists("ac/obj"))
      // one pending response then success: the retry completes the copy
      server.asyncPendingCopies = 1
      assert(Transfer.copyIfAbsent(src, dst, "ac/obj").contains(8L))
      assert(dst.getBytes("ac/obj").toSeq == "blobdata".getBytes.toSeq)
      assert(server.opCount("copy_pending") >= 2)
    } finally server.stop()
  }

  test("s3: large objects go through multipart upload intact") {
    val (server, store) = s3Fixture()
    try {
      // threshold is 256 KB in the fixture: 1 MB forces multipart
      val big = Array.tabulate[Byte](1024 * 1024)(i => (i % 13).toByte)
      store.putBytes("big/obj", big)
      assert(store.getBytes("big/obj").toSeq == big.toSeq)
      assert(server.opCounts.get("multipart_init").get() >= 1)
      assert(server.opCounts.get("multipart_part").get() >= 2)
      assert(store.getRange("big/obj", 1024 * 512, 16).toSeq ==
        big.slice(1024 * 512, 1024 * 512 + 16).toSeq)
    } finally server.stop()
  }

  test("gcs: large objects go through resumable upload intact") {
    val server = new graft.storage.gcs.GcsMemServer
    server.createBucket("big")
    try {
      val store = GcsStoreConf(server.endpoint, "big",
        resumableThresholdBytes = 256 * 1024,
        resumableChunkBytes = 256 * 1024).open()
      val big = Array.tabulate[Byte](1024 * 1024)(i => (i % 13).toByte)
      store.putBytes("big/obj", big)
      assert(store.getBytes("big/obj").toSeq == big.toSeq)
      assert(server.opCounts.get("resumable_init").get() >= 1)
      assert(server.opCounts.get("resumable_chunk").get() >= 2)
      assert(store.getRange("big/obj", 1024 * 512, 16).toSeq ==
        big.slice(1024 * 512, 1024 * 512 + 16).toSeq)
    } finally server.stop()
  }

  test("azure: large objects go through Put Block / Put Block List intact") {
    val server = new graft.storage.az.AzureMemServer
    server.createContainer("big")
    try {
      val store = AzureStoreConf(server.endpoint, "acct", "big",
        blockThresholdBytes = 256 * 1024,
        blockBytes = 100 * 1024).open()
      val big = Array.tabulate[Byte](1024 * 1024)(i => (i % 17).toByte)
      store.putBytes("big/obj", big)
      assert(store.getBytes("big/obj").toSeq == big.toSeq)
      assert(server.opCounts.get("put_block").get() >= 2)
      assert(server.opCounts.get("put_blocklist").get() >= 1)
      assert(store.getRange("big/obj", 1024 * 512, 16).toSeq ==
        big.slice(1024 * 512, 1024 * 512 + 16).toSeq)
    } finally server.stop()
  }

  test("redirect decorator routes by longest prefix; engine runs across stores") {
    val meta = Store.local(tmpDir("redir-meta"))
    val cold = Store.local(tmpDir("redir-cold"))
    val store = new RedirectStore(meta, Seq("chunks/" -> cold))
    store.putBytes("chunks/abc", Array[Byte](1, 2))
    store.putBytes("snapshots/s1", Array[Byte](3))
    assert(cold.exists("chunks/abc") && !meta.exists("chunks/abc"))
    assert(meta.exists("snapshots/s1") && !cold.exists("snapshots/s1"))
    assert(store.getRange("chunks/abc", 1, 1).toSeq == Seq[Byte](2))
    // merged listings across the routed stores
    assert(store.list("").map(_.key).sorted ==
      Seq("chunks/abc", "snapshots/s1"))
    assert(store.list("chunks/").map(_.key) == Seq("chunks/abc"))
    // a whole repository over the split layout: chunks land cold
    val repo = Repository.create(store, spark)
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(4), Seq(1))
    s.writeChunk("/a", Seq(0), Array.fill[Byte](2048)(7)) // > inline cap
    s.commit("c")
    assert(cold.list("chunks/").size == 2) // abc + the engine chunk
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    assert(ro.getChunk("/a", Seq(0)).get.head == 7.toByte)
  }

  test("latency decoration survives the executor-client round trip " +
      "(LatencyStoreConf) and the graft:// identity forwards (r14)") {
    // the r14 Spark-plane latency soak rests on two pieces of plumbing:
    // (1) LatencyStore.conf KEEPS the decoration, so a client opened
    // from it (what executors do via StoreConf) injects the same RTT —
    // every other decorator intentionally sheds its wrapper at conf
    val raw = Store.local(tmpDir("lat-conf"))
    val lat = new LatencyStore(raw, 40)
    lat.conf match {
      case graft.storage.LatencyStoreConf(inner, d) =>
        assert(d == 40 && inner == raw.conf)
      case c => fail(s"latency conf lost its decoration: $c")
    }
    val reopened = lat.conf.open()
    reopened.putBytes("k", Array[Byte](5))
    val t0 = System.nanoTime()
    assert(reopened.getBytes("k").head == 5.toByte)
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(ms >= 40, s"reconstructed client paid ${ms}ms — no injection")
    assert(new graft.storage.FlakyStore(raw, 0).conf == raw.conf,
      "non-latency decorators must still shed their wrapper at conf")
    // (2) GraftUriStore: a graft:// identity that forwards everything
    // else, so Parquet scans route through the decorated store
    val uriStore = new graft.storage.GraftUriStore(lat, "lat-spec-auth")
    assert(uriStore.rootUri == "graft://lat-spec-auth")
    assert(uriStore.uri("manifests/x") == "graft://lat-spec-auth/manifests/x")
    assert(uriStore.getBytes("k").head == 5.toByte) // forwards through lat
    graft.storage.hadoop.GraftFileSystem.register(spark, uriStore)
    // a Spark read of a parquet written through the identity resolves
    val df = spark.range(3).toDF("v")
    df.write.mode("overwrite").parquet(uriStore.uri("t.parquet"))
    assert(spark.read.parquet(uriStore.uri("t.parquet")).count() == 3)
  }

  test("s3: retrying decorator recovers transient 5xx-style failures") {
    val (server, store) = s3Fixture()
    try {
      val flaky = new FlakyStore(store, failures = 2,
        failOps = Set("getBytes"))
      val retrying = new RetryingStore(flaky, maxAttempts = 5,
        baseBackoffMs = 1)
      store.putBytes("t/x", Array[Byte](7))
      assert(retrying.getBytes("t/x").toSeq == Seq[Byte](7))
    } finally server.stop()
  }
}

/** The full engine running against the S3 backend: repository lifecycle,
  * Spark Parquet IO through the graft:// Hadoop adapter, commits through
  * conditional PUT, and the O(1) pointer-listing guarantee.
  */
class S3RepositorySpec extends SparkTestBase {

  private def freshRepo(): (S3MemServer, Repository) = {
    val server = new S3MemServer
    server.createBucket("engine")
    val store = Store.s3(S3StoreConf(server.endpoint, "us-east-1", "engine",
      prefix = "repos/alpha", accessKey = "k", secretKey = "s"))
    (server, Repository.create(store, spark))
  }

  test("repo on S3: write chunks, commit, read back via Spark") {
    val (server, repo) = freshRepo()
    try {
      val s = repo.writableSession("main")
      s.addArray("/cube", Seq(8, 8), Seq(4, 4))
      // 4 chunks, payloads above the inline threshold to force chunk objects
      for (i <- 0 until 2; j <- 0 until 2)
        s.writeChunk("/cube", Seq(i, j),
          Array.fill[Byte](2048)((i * 2 + j).toByte))
      val c1 = s.commit("four chunks")
      assert(c1.nonEmpty)

      val ro = repo.readonlySession(VersionRef.Branch("main"))
      assert(ro.refs("/cube").count() == 4) // manifest Parquet read via graft://
      assert(ro.getChunk("/cube", Seq(1, 1)).get.head == 3.toByte)
      // ranged read through the store: offset into the chunk object
      val ref = ro.getChunkRef("/cube", Seq(0, 1)).get
      assert(repo.assets.readChunk(ref.chunk_id, 100, 16).toSeq ==
        Array.fill[Byte](16)(1.toByte).toSeq)
    } finally server.stop()
  }

  test("repo on S3: concurrent committers serialize through conditional PUT") {
    val (server, repo) = freshRepo()
    try {
      val s0 = repo.writableSession("main")
      s0.addArray("/a", Seq(100), Seq(1))
      s0.commit("init")
      import scala.concurrent._
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val ids = Await.result(Future.sequence((0 until 4).map(w => Future {
        val s = repo.writableSession("main")
        s.writeChunk("/a", Seq(w), Array[Byte](w.toByte))
        s.commit(s"w$w")
      })), 300.seconds)
      pool.shutdown()
      assert(ids.distinct.size == 4)
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      assert(ro.refs("/a").count() == 4)
      assert(server.opCounts.get("put_conditional").get() >= 5) // CAS per commit
    } finally server.stop()
  }

  test("value plane on S3: distributed write, region read, slice stats") {
    val (server, repo) = freshRepo()
    try {
      import org.apache.spark.sql.functions._
      val s = repo.writableSession("main")
      s.addArray("/v", Seq(40), Seq(10))
      val df = spark.range(40).select(col("id").as("i0"),
        (col("id") * 3).cast("double").as("value"))
      // staging parquet + chunk uploads all ride the S3 client
      graft.tensor.TensorPlane.writeValues(s, "/v", df, "float64")
      s.commit("values")
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      // executor-side ranged fetch through StoreConf -> HTTP
      val region = graft.tensor.TensorPlane
        .valuesRegion(ro, "/v", "float64", Seq((15L, 25L)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(region == (15L until 25L).map(i => i -> i * 3.0).toMap)
      val st = graft.tensor.TensorPlane
        .sliceStats(ro, "/v", "float64", Seq((0L, 40L))).head()
      assert(st.getAs[Long]("n") == 40)
      assert(st.getAs[Double]("sum") == (0 until 40).map(_ * 3.0).sum)
    } finally server.stop()
  }

  test("connectors open an S3 repo via s3.* options (both DSv2 short names)") {
    val (server, repo) = freshRepo()
    try {
      val s = repo.writableSession("main")
      s.addArray("/t", Seq(8), Seq(2))
      for (c <- 0 until 4)
        s.writeChunk("/t", Seq(c), Array.fill[Byte](1024)(c.toByte))
      s.commit("data")
      val opts = Map(
        "s3.endpoint" -> server.endpoint, "s3.bucket" -> "engine",
        "s3.prefix" -> "repos/alpha", "s3.access-key" -> "k",
        "s3.secret-key" -> "s", "array" -> "/t")
      val v1 = spark.read.format("graft").options(opts).load()
      assert(v1.count() == 4)
      val v2 = spark.read.format("graft-v2").options(opts).load()
      assert(v2.count() == 4)
      assert(v2.filter(org.apache.spark.sql.functions.col("c0") >= 2)
        .count() == 2)
    } finally server.stop()
  }

  test("repo on S3: pointer lookup lists O(1) keys regardless of history") {
    val (server, repo) = freshRepo()
    try {
      val s0 = repo.writableSession("main")
      s0.addArray("/a", Seq(1000), Seq(1))
      s0.commit("init")
      for (i <- 0 until 30) {
        val s = repo.writableSession("main")
        s.writeChunk("/a", Seq(i), Array[Byte](1))
        s.commit(s"c$i")
      }
      // measure: one open + one read must cost a single-key listing page
      server.listedKeys.set(0)
      val before = server.opCounts.get("list").get()
      val ro = repo.readonlySession(VersionRef.Branch("main"))
      assert(ro.refs("/a").count() == 30)
      val listCalls = server.opCounts.get("list").get() - before
      // every pointer-chain list returned exactly ONE key (max-keys=1);
      // manifest dir listings go through the same counter, so bound keys
      // per call rather than total calls
      assert(server.listedKeys.get() <= listCalls * 2,
        s"listed ${server.listedKeys.get()} keys over $listCalls LIST calls")
      // and pruning bounds the chain itself
      val pruned = repo.pointer.pruneGenerations(keep = 5)
      assert(pruned == 27) // gens 0..26 deleted, tip=31 keep=5
      assert(repo.pointer.latestGen() == 31)
      assert(repo.opsLog().nonEmpty) // stops cleanly at pruned horizon
    } finally server.stop()
  }

  // ---- read-only HTTP backend (WebDAV listing; mutations rejected) ----

  test("http: read-path conformance against the WebDAV stub") {
    val server = new graft.storage.http.HttpMemServer
    try {
      val payload = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
      server.put("a/b/obj1", payload)
      (0 until 25).foreach(i => server.put(f"list/k$i%03d", Array[Byte](1)))
      server.put("other/x", Array[Byte](1))
      val store = HttpStoreConf(server.endpoint).open()

      // whole + ranged + split reads
      assert(store.getBytes("a/b/obj1").toSeq == payload.toSeq)
      assert(store.getRange("a/b/obj1", 100, 16).toSeq ==
        payload.slice(100, 116).toSeq)
      assert(store.getRange("a/b/obj1", 9990, 100).toSeq ==
        payload.slice(9990, 10000).toSeq) // range past EOF truncates
      assert(store.getRange("a/b/obj1", 20000, 10).isEmpty) // fully past
      assert(store.getRangeSplit("a/b/obj1", 0, 10000, idealBytes = 1024)
        .toSeq == payload.toSeq)
      assert(server.opCounts.get("ranged_get").get() >= 10) // split real

      // existence + stat via HEAD
      assert(store.exists("a/b/obj1"))
      assert(!store.exists("a/b/nope"))
      intercept[Exception](store.getBytes("a/b/nope"))
      val st = store.stat("a/b/obj1").get
      assert(st.size == 10000 && st.etag.nonEmpty)

      // WebDAV listing + derived paged listing
      assert(store.list("list/").size == 25)
      val p1 = store.listPage("list/", None, 10)
      assert(p1.map(_.key) == (0 until 10).map(i => f"list/k$i%03d"))
      val p2 = store.listPage("list/", Some(p1.last.key), 10)
      assert(p2.map(_.key) == (10 until 20).map(i => f"list/k$i%03d"))
      assert(store.list("nope/").isEmpty)

      // deep nesting: the Depth-1 walk recurses through sub-collections
      server.put("deep/a/b/c/leaf1", Array[Byte](7))
      server.put("deep/a/b/leaf2", Array[Byte](8))
      assert(store.list("deep/").map(_.key).sorted ==
        Seq("deep/a/b/c/leaf1", "deep/a/b/leaf2"))
      assert(store.list("deep/a/b/c").map(_.key) == Seq("deep/a/b/c/leaf1"))
      // '+' is a literal in URI paths (form decoding would eat it)
      server.put("plus+key/x", Array[Byte](9))
      assert(store.list("plus+key/").map(_.key) == Seq("plus+key/x"))
      assert(store.getBytes("plus+key/x").toSeq == Seq[Byte](9))
      // RFC 7233 suffix range against the stub
      assert(store.getRange("a/b/obj1", 9000, -1).length == 1000)

      // every mutation rejected loudly — and none reached the server
      intercept[UnsupportedOperationException](
        store.putBytes("new", Array[Byte](1)))
      intercept[UnsupportedOperationException](
        store.putIfAbsent("new", Array[Byte](1)))
      intercept[UnsupportedOperationException](store.delete(Seq("a/b/obj1")))
      intercept[UnsupportedOperationException](store.deletePrefix("a/"))
      intercept[UnsupportedOperationException](store.copy("a/b/obj1", "c"))
      assert(store.exists("a/b/obj1"))
    } finally server.stop()
  }

  test("s3/gcs/azure: configured headers reach every request (#2246)") {
    // reference s3_storage/gcs_storage(headers=...): static headers on
    // every object-store request; the stubs demand one and 403 otherwise
    locally {
      val srv = new S3MemServer(requiredHeader = Some("x-api-key" -> "k1"))
      try {
        srv.createBucket("b")
        val denied = Store.fromOptions(Map(
          "s3.endpoint" -> srv.endpoint, "s3.bucket" -> "b"))
        val e = intercept[GraftException](
          denied.putBytes("k", Array[Byte](1)))
        assert(e.kind == GraftError.Auth)
        val store = Store.fromOptions(Map(
          "s3.endpoint" -> srv.endpoint, "s3.bucket" -> "b",
          "s3.header.x-api-key" -> "k1"))
        store.putBytes("k", Array[Byte](1, 2))
        assert(store.getBytes("k").length == 2)
        assert(store.list("").map(_.key) == Seq("k")) // LIST carries it too
      } finally srv.stop()
    }
    locally {
      val srv = new graft.storage.gcs.GcsMemServer(
        requiredHeader = Some("x-goog-user-project" -> "proj1"))
      try {
        srv.createBucket("b")
        val denied = Store.fromOptions(Map("gcs.endpoint" -> srv.endpoint,
          "gcs.bucket" -> "b"))
        assert(intercept[GraftException](
          denied.putBytes("k", Array[Byte](1))).kind == GraftError.Auth)
        val store = Store.fromOptions(Map("gcs.endpoint" -> srv.endpoint,
          "gcs.bucket" -> "b",
          "gcs.header.x-goog-user-project" -> "proj1"))
        store.putBytes("k", Array[Byte](1, 2))
        assert(store.getBytes("k").length == 2)
        assert(store.list("").map(_.key) == Seq("k"))
      } finally srv.stop()
    }
    locally {
      val srv = new graft.storage.az.AzureMemServer(
        requiredHeader = Some("x-ms-client-request-id" -> "rid1"))
      try {
        srv.createContainer("c")
        val denied = Store.fromOptions(Map("azure.endpoint" -> srv.endpoint,
          "azure.account" -> "acct", "azure.container" -> "c"))
        assert(intercept[GraftException](
          denied.putBytes("k", Array[Byte](1))).kind == GraftError.Auth)
        val store = Store.fromOptions(Map("azure.endpoint" -> srv.endpoint,
          "azure.account" -> "acct", "azure.container" -> "c",
          "azure.header.x-ms-client-request-id" -> "rid1"))
        store.putBytes("k", Array[Byte](1, 2))
        assert(store.getBytes("k").length == 2)
        assert(store.list("").map(_.key) == Seq("k"))
      } finally srv.stop()
    }
  }

  test("http: configured headers reach every request (#2143)") {
    val server = new graft.storage.http.HttpMemServer(
      requiredAuth = Some("Bearer sekrit"))
    try {
      server.put("d/obj", Array.tabulate[Byte](100)(_.toByte))
      // without the header every read is 401, surfaced with the stable
      // machine-readable `auth` kind (#2267)
      val anon = HttpStoreConf(server.endpoint).open()
      val e = intercept[GraftException](anon.getBytes("d/obj"))
      assert(e.kind == GraftError.Auth)
      assert(!anon.exists("d/obj")) // HEAD → 401, not 200
      intercept[GraftException](anon.list("d/"))
      // with it — built through the connector-option path — all verbs work
      val store = Store.fromOptions(Map(
        "http.endpoint" -> server.endpoint,
        "http.header.Authorization" -> "Bearer sekrit"))
      assert(store.getBytes("d/obj").length == 100)
      assert(store.getRange("d/obj", 10, 5).toSeq == (10 until 15)
        .map(_.toByte))
      assert(store.stat("d/obj").exists(_.size == 100))
      assert(store.list("d/").map(_.key) == Seq("d/obj")) // PROPFIND too
      assert(server.opCounts.get("unauthorized").get() >= 3)

      // per-container HTTP credentials for http(s):// virtual chunks
      val resolver = graft.virt.VirtualChunkResolver.fromOptions(Map(
        "virtual.ext.prefix" -> s"${server.endpoint}/d/",
        "virtual.ext.http.endpoint" -> server.endpoint,
        "virtual.ext.http.header.Authorization" -> "Bearer sekrit"))
      assert(resolver.ranged(s"${server.endpoint}/d/obj", 20, 10).toSeq ==
        (20 until 30).map(_.toByte))
      assert(resolver.fetch("vcc://ext/obj", 0, 4, null, 0).toSeq ==
        (0 until 4).map(_.toByte))
    } finally server.stop()
  }

  test("http: a repo authored on local FS serves read-only over HTTP") {
    // author with a writable backend...
    val dir = tmpDir("http-repo")
    val local = Store.local(dir)
    val repo = Repository.create(local, spark)
    val s = repo.writableSession("main")
    s.addArray("/cube", Seq(8, 8), Seq(4, 4))
    for (i <- 0 until 2; j <- 0 until 2)
      s.writeChunk("/cube", Seq(i, j),
        Array.fill[Byte](2048)((i * 2 + j).toByte))
    s.commit("authored locally")
    // ...mirror the objects to a static host...
    val server = new graft.storage.http.HttpMemServer
    try {
      local.list("").foreach(o => server.put(o.key, local.getBytes(o.key)))
      // ...and open + read the repo over HTTP: pointer discovery
      // (PROPFIND), snapshot/manifest reads (graft:// over ranged GETs),
      // chunk reads
      val httpRepo = Repository.open(HttpStoreConf(server.endpoint).open(),
        spark)
      val ro = httpRepo.readonlySession(VersionRef.Branch("main"))
      assert(ro.refs("/cube").count() == 4)
      assert(ro.getChunk("/cube", Seq(1, 1)).get.head == 3.toByte)
      assert(httpRepo.ancestry(VersionRef.Branch("main"))
        .map(_.message).contains("authored locally"))
      // a write session fails at the first mutation, loudly
      val ws = httpRepo.writableSession("main")
      ws.addGroup("/g")
      intercept[Exception](ws.commit("should fail"))
    } finally server.stop()
  }
}

/** JVM-wide chunk-byte LRU (CachingConfig.num_bytes_chunks analog). */
class ChunkCacheSpec extends SparkTestBase {
  test("chunk cache serves repeat reads without touching the store") {
    graft.storage.ChunkCache.clear()
    val store = Store.local(tmpDir("cache"))
    val counting = new LoggingStore(store, _ => ())
    val payload = Array.tabulate[Byte](4096)(_.toByte)
    counting.putBytes("chunks/AB", payload)

    val misses0 = graft.storage.ChunkCache.misses
    def read() = graft.storage.ChunkCache.getOrFetch(
      counting, "chunks/AB", 0, 4096)(counting.getRange("chunks/AB", 0, 4096))
    assert(read().toSeq == payload.toSeq)
    val getsAfterFirst = counting.counts.get("getRange").get()
    assert(read().toSeq == payload.toSeq)
    assert(read().toSeq == payload.toSeq)
    // still exactly one store GET; two hits recorded
    assert(counting.counts.get("getRange").get() == getsAfterFirst)
    assert(graft.storage.ChunkCache.misses == misses0 + 1)

    // a different range is a different entry
    assert(graft.storage.ChunkCache.getOrFetch(counting, "chunks/AB", 10, 16)(
      counting.getRange("chunks/AB", 10, 16)).toSeq ==
      payload.slice(10, 26).toSeq)
    assert(counting.counts.get("getRange").get() == getsAfterFirst + 1)
  }

  test("repeated engine point reads hit the cache end-to-end") {
    graft.storage.ChunkCache.clear()
    val repo = Repository.create(Store.local(tmpDir("cache-e2e")), spark)
    val s = repo.writableSession("main")
    s.addArray("/a", Seq(4), Seq(1))
    for (c <- 0 until 4) // above inline threshold -> real chunk objects
      s.writeChunk("/a", Seq(c), Array.fill[Byte](2048)(c.toByte))
    s.commit("chunks")
    val ro = repo.readonlySession(VersionRef.Branch("main"))
    (0 until 4).foreach(c => assert(ro.getChunk("/a", Seq(c)).get.head == c))
    val h0 = graft.storage.ChunkCache.hits
    (0 until 4).foreach(c => assert(ro.getChunk("/a", Seq(c)).get.head == c))
    assert(graft.storage.ChunkCache.hits >= h0 + 4)
  }
}
