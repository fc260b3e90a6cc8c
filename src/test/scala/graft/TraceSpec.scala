package graft

import org.apache.spark.sql.functions._
import graft.core.Trace
import graft.repo._
import graft.storage.Store

/** Observability export (#2234 analog): driver-side operations emit
  * structured spans when tracing is enabled — and cost nothing when it
  * is not (the default).
  */
class TraceSpec extends SparkTestBase {

  test("commit, flush, scan-plan and gc emit spans; JSON lines parse") {
    val mem = Trace.toMemory()
    try {
      val dir = tmpDir("trace-repo")
      val repo = Repository.create(Store.local(dir), spark)
      val s = repo.writableSession("main")
      s.addArray("/a", Seq(8), Seq(2), userData = """{"dtype":"int64"}""")
      (0 until 4).foreach(c =>
        s.writeChunk("/a", Seq(c),
          graft.functions.ChunkCodec.encodeLongs(
            Array.tabulate(2)(i => c * 2L + i), "int64")))
      val cid = s.commit("traced commit")

      // one scan through the DSv2 values path
      val n = spark.read.format("graft-v2")
        .option("path", dir).option("array", "/a")
        .option("mode", "values").option("dtype", "int64").load()
        .count()
      assert(n == 8)

      graft.ops.GC.garbageCollect(repo,
        java.time.Instant.now().minusSeconds(3600), dryRun = true)

      val spans = mem.spans
      val commit = spans.filter(_.name == "commit")
      assert(commit.nonEmpty)
      assert(commit.exists(_.attrs.get("snapshot_id").contains(cid)))
      assert(commit.forall(_.attrs.get("branch").contains("main")))
      // flush nests under commit
      val flush = spans.find(_.name == "flush").get
      assert(flush.parent.contains("commit"))
      assert(flush.attrs.get("snapshot_id").contains(cid))
      assert(flush.durMicros >= 0 &&
        commit.head.durMicros >= flush.durMicros)
      // scan planning recorded array/mode/partition count
      val plan = spans.filter(_.name == "scan.plan")
        .filter(_.attrs.get("mode").contains("values"))
      assert(plan.nonEmpty)
      assert(plan.head.attrs.get("array").contains("/a"))
      assert(plan.head.attrs("partitions").toInt > 0)
      // gc span with its summary
      val gc = spans.find(_.name == "gc").get
      assert(gc.attrs("dry_run") == "true" &&
        gc.attrs.contains("chunks_deleted"))
      // every span serializes to one parseable JSON line
      spans.foreach { sp =>
        val j = sp.toJson
        assert(j.startsWith("{") && j.endsWith("}") &&
          j.contains("\"name\"") && j.contains("\"dur_us\""), j)
      }
      // errors are recorded and rethrown
      mem.clear()
      intercept[GraftException] {
        repo.writableSession("main").commit("")
      }
      assert(mem.spans.exists(s =>
        s.name == "commit" && s.error.exists(_.contains("nothing to commit"))))
    } finally Trace.disable()
  }

  /** Per-phase wall clocks on the heavy ops (VERDICT r11 #5): rechunk,
    * downsample, and compact carry the same `ms_<phase>` discipline as
    * push/merge, so a drifting bench entry names its phase from the
    * trace alone. Attribute names are a contract with
    * docs/observability.md — pinned here.
    */
  test("rechunk/downsample/compact spans carry per-phase wall clocks") {
    val mem = Trace.toMemory()
    try {
      val dir = tmpDir("trace-phases")
      val repo = Repository.create(Store.local(dir), spark)
      val s = repo.writableSession("main")
      s.addArray("/a", Seq(16), Seq(2), userData = """{"dtype":"int64"}""")
      (0 until 8).foreach(c =>
        s.writeChunk("/a", Seq(c),
          graft.functions.ChunkCodec.encodeLongs(
            Array.tabulate(2)(i => c * 2L + i), "int64")))
      s.commit("init")

      locally {
        val rs = repo.writableSession("main")
        graft.tensor.TensorPlane.rechunk(rs, "/a", Seq(4L), "int64")
        rs.commit("rechunk")
      }
      locally {
        val ds = repo.writableSession("main")
        graft.tensor.TensorPlane.downsample(ds, "/a", "/a_l1", Seq(2),
          "int64")
        ds.commit("downsample")
      }
      graft.ops.Compaction.rewriteManifests(repo, "main")

      val spans = mem.spans
      val re = spans.find(_.name == "rechunk").get
      assert(re.attrs.get("path").contains("/a"))
      assert(re.attrs.get("chunks").contains("4"))
      Seq("ms_plan", "ms_copy", "ms_swap").foreach(k =>
        assert(re.attrs.get(k).exists(_.toLong >= 0L), s"rechunk $k"))
      val dn = spans.find(_.name == "downsample").get
      assert(dn.attrs.get("src").contains("/a") &&
        dn.attrs.get("dst").contains("/a_l1") &&
        dn.attrs.get("mode").contains("mean") &&
        dn.attrs.get("factors").contains("2"))
      Seq("ms_plan", "ms_write").foreach(k =>
        assert(dn.attrs.get(k).exists(_.toLong >= 0L), s"downsample $k"))
      val co = spans.find(_.name == "compact").get
      assert(co.attrs.get("branch").contains("main") &&
        co.attrs.get("arrays").exists(_.toInt >= 2) &&
        co.attrs.contains("snapshot_id"))
      Seq("ms_plan", "ms_commit").foreach(k =>
        assert(co.attrs.get(k).exists(_.toLong >= 0L), s"compact $k"))
      // a no-op rechunk (already on the grid) emits a span with NO copy
      // phase — the skip path must not read as a failed span
      mem.clear()
      locally {
        val rs = repo.writableSession("main")
        graft.tensor.TensorPlane.rechunk(rs, "/a", Seq(4L), "int64")
      }
      val noop = mem.spans.find(_.name == "rechunk").get
      assert(noop.error.isEmpty && !noop.attrs.contains("ms_copy"))
    } finally Trace.disable()
  }

  /** Span names are a public observability contract: docs/observability.md
    * maps each onto OTLP span semantics, and external pipelines match by
    * name. Renaming one is a breaking change — this pin makes it loud.
    */
  test("span names are stable (docs/observability.md contract)") {
    val documented = Set("commit", "flush", "merge", "push", "gc",
      "expire", "compact", "scan.plan", "scan.spj.error",
      "rechunk", "downsample", "slice", "fsck", "zarr.list", "zarr.getsize",
      "dedup.minhash", "dedup.lsh_verify", "dedup.clusters",
      "ann.ivf_build", "ann.neighbors", "ann.ivf_query",
      // flush-phase breakdown spans (r16 optimization round)
      "flush.splits", "flush.finalize", "manifest.write")
    val srcDir = java.nio.file.Paths.get("src/main/scala")
    val spanRe = """Trace\.span\("([^"]+)"""".r
    val inCode = scala.collection.mutable.Set[String]()
    java.nio.file.Files.walk(srcDir).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        spanRe.findAllMatchIn(text).foreach(m => inCode += m.group(1))
      }
    }
    assert(inCode.toSet == documented,
      s"span-name drift: code=$inCode documented=$documented — update " +
        "docs/observability.md and this pin TOGETHER")
  }

  test("json-lines sink appends spans to the configured file") {
    val path = tmpDir("trace-out") + "/spans.jsonl"
    Trace.toJsonLines(path)
    try {
      val dir = tmpDir("trace-repo2")
      val repo = Repository.create(Store.local(dir), spark)
      val s = repo.writableSession("main")
      s.addGroup("/g")
      s.commit("file-traced")
      val lines = scala.io.Source.fromFile(path).getLines().toSeq
      assert(lines.exists(l => l.contains("\"name\":\"commit\"") &&
        l.contains("file-traced".take(0) + "\"snapshot_id\"")))
      assert(lines.forall(_.startsWith("{")))
    } finally Trace.disable()
  }

  test("both trace confs set: spans tee to the JSON-lines AND OTLP files") {
    val base = tmpDir("trace-tee")
    val human = s"$base/spans.jsonl"
    val otlp = s"$base/spans.otlp.jsonl"
    spark.conf.set("spark.graft.trace.path", human)
    spark.conf.set("spark.graft.trace.otlpPath", otlp)
    try {
      val repo = Repository.create(Store.local(tmpDir("trace-repo4")), spark)
      val s = repo.writableSession("main")
      s.addGroup("/g")
      s.commit("teed")
      val humanLines = scala.io.Source.fromFile(human).getLines().toSeq
      val otlpLines = scala.io.Source.fromFile(otlp).getLines().toSeq
      assert(humanLines.exists(_.contains("\"name\":\"commit\"")))
      assert(otlpLines.exists(_.contains("\"name\":\"commit\"")))
      assert(otlpLines.forall(_.startsWith("{\"resourceSpans\"")))
    } finally {
      Trace.disable()
      spark.conf.unset("spark.graft.trace.path")
      spark.conf.unset("spark.graft.trace.otlpPath")
    }
  }

  test("OTLP/JSON file exporter: linked trace tree a collector ingests") {
    val path = tmpDir("trace-otlp") + "/spans.otlp.jsonl"
    Trace.toOtlpJson(path)
    try {
      // a real nested engine operation (commit → flush) plus an error span
      val dir = tmpDir("trace-repo3")
      val repo = Repository.create(Store.local(dir), spark)
      val s = repo.writableSession("main")
      s.addGroup("/g")
      s.commit("otlp-traced")
      intercept[RuntimeException](
        Trace.span("unit.failing")(_ => throw new RuntimeException("boom")))

      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val lines = scala.io.Source.fromFile(path).getLines().toVector
      assert(lines.nonEmpty)
      // every line is one ExportTraceServiceRequest-shaped object — the
      // framing the collector's otlpjsonfile receiver reads natively
      val spans = lines.map { l =>
        val root = om.readTree(l)
        val rs = root.get("resourceSpans")
        assert(rs != null && rs.isArray && rs.size() == 1, l.take(200))
        val res = rs.get(0).get("resource").get("attributes").get(0)
        assert(res.get("key").asText() == "service.name" &&
          res.get("value").get("stringValue").asText() == "graft")
        val sp = rs.get(0).get("scopeSpans").get(0).get("spans").get(0)
        sp
      }
      // ids: 16-byte traceId / 8-byte spanId, hex
      spans.foreach { sp =>
        assert(sp.get("traceId").asText().matches("[0-9a-f]{32}"))
        assert(sp.get("spanId").asText().matches("[0-9a-f]{16}"))
        val t0 = sp.get("startTimeUnixNano").asText().toLong
        val t1 = sp.get("endTimeUnixNano").asText().toLong
        assert(t1 >= t0)
      }
      // linkage: flush is commit's child — same traceId, parentSpanId =
      // commit's spanId (ids assigned at span START so this works even
      // though the child RECORDS first)
      val byName = spans.groupBy(_.get("name").asText())
      val commit = byName("commit").head
      val flush = byName("flush").head
      assert(flush.get("traceId").asText() == commit.get("traceId").asText())
      assert(flush.get("parentSpanId").asText() ==
        commit.get("spanId").asText())
      assert(commit.get("parentSpanId") == null) // root span
      // attributes survive as OTLP KeyValue pairs
      import scala.jdk.CollectionConverters._
      val commitAttrs = commit.get("attributes").elements().asScala
        .map(a => a.get("key").asText() ->
          a.get("value").get("stringValue").asText()).toMap
      assert(commitAttrs.get("branch").contains("main"))
      assert(commitAttrs.contains("snapshot_id"))
      // error mapping: OTLP status code 2 + message; success = 0
      val failing = byName("unit.failing").head
      assert(failing.get("status").get("code").asInt() == 2)
      assert(failing.get("status").get("message").asText()
        .contains("boom"))
      assert(commit.get("status").get("code").asInt() == 0)
    } finally Trace.disable()
  }
}
