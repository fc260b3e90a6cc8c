package graft

import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import graft.functions.ChunkCodec
import graft.repo._
import graft.storage.Store

class GraftSourceSpec extends SparkTestBase {

  private def setup(): (Repository, String) = {
    val dir = tmpDir("repo")
    val repo = Repository.create(Store.local(dir), spark,
      GraftConfig(splits = Seq(SplitRule(".*", 0, 2))))
    val s = repo.writableSession("main")
    s.addArray("/t", Seq(16), Seq(2)) // 8 chunks, 4 splits of 2 chunks
    for (c <- 0 until 8)
      s.writeChunk("/t", Seq(c),
        ChunkCodec.encodeLongs(Array(c * 2L, c * 2L + 1), "int64"))
    s.commit("data")
    (repo, dir)
  }

  test("format(graft) reads refs and values with time travel") {
    val (repo, dir) = setup()
    val refs = spark.read.format("graft")
      .option("path", dir).option("array", "/t").load()
    assert(refs.count() == 8)
    assert(refs.columns.contains("coord") && refs.columns.contains("kind"))

    val values = spark.read.format("graft")
      .option("path", dir).option("array", "/t")
      .option("mode", "values").option("dtype", "int64").load()
    assert(values.count() == 16)
    assert(values.agg(sum("value")).head().getLong(0) == (0 until 16).sum)

    // time travel via tag
    repo.createTag("v1", repo.lookupBranch("main").get)
    val s2 = repo.writableSession("main")
    s2.writeChunk("/t", Seq(0), ChunkCodec.encodeLongs(Array(100L, 100L), "int64"))
    s2.commit("overwrite")
    val atTag = spark.read.format("graft")
      .option("path", dir).option("array", "/t")
      .option("version", "tag:v1")
      .option("mode", "values").option("dtype", "int64").load()
    assert(atTag.agg(sum("value")).head().getLong(0) == (0 until 16).sum)
    val atMain = spark.read.format("graft")
      .option("path", dir).option("array", "/t")
      .option("mode", "values").option("dtype", "int64").load()
    assert(atMain.agg(sum("value")).head().getLong(0) ==
      (2 until 16).sum + 200)
  }

  test("coord predicates prune manifest splits at planning time") {
    val (repo, dir) = setup()
    val refs = spark.read.format("graft")
      .option("path", dir).option("array", "/t").load()
    // c0 >= 6 → only split 3 (chunks 6,7) should survive pruning
    val filtered = refs.filter(col("c0") >= 6)
    assert(filtered.count() == 2)
    assert(filtered.select("c0").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(6, 7))
    // values mode: element index predicate → chunk coord pruning
    val values = spark.read.format("graft")
      .option("path", dir).option("array", "/t")
      .option("mode", "values").option("dtype", "int64").load()
    val v = values.filter(col("i0") === 13)
    assert(v.collect().map(_.getLong(1)).toSeq == Seq(13L))
  }

  test("df.write.format(graft) commits values through the engine") {
    val dir = tmpDir("repo")
    val repo = Repository.create(Store.local(dir), spark)
    val s = repo.writableSession("main")
    s.addArray("/w", Seq(50), Seq(10))
    s.commit("init")

    spark.range(50).select(col("id").as("i0"),
        (col("id") * 3).cast("double").as("value"))
      .write.format("graft")
      .option("path", dir).option("array", "/w")
      .option("mode", "values").option("dtype", "float64")
      .option("message", "connector write")
      .mode("append").save()

    val back = spark.read.format("graft")
      .option("path", dir).option("array", "/w")
      .option("mode", "values").option("dtype", "float64").load()
    assert(back.count() == 50)
    assert(back.agg(sum("value")).head().getDouble(0) ==
      (0 until 50).map(_ * 3.0).sum)
    assert(repo.ancestry(VersionRef.Branch("main"))
      .head.message == "connector write")
  }

  test("format(graft) is the DSv2 connector: pushed bounds, same rows") {
    val (_, dir) = setup()
    def read(format: String) = spark.read.format(format)
      .option("path", dir).option("array", "/t").load()
      .filter(col("c0") >= 6)
    val alias = read("graft")
    val scans = alias.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.description()
    }
    assert(scans.size == 1 && scans.head.contains("d0 in [6,"),
      scans.mkString(" | "))
    assert(alias.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.size == 1)
    val v2 = read("graft-v2")
    assert(alias.columns.toSeq == v2.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getAs[Int]("c0")).toSeq
    assert(rows(alias).map(_.getAs[Int]("c0")) == Seq(6, 7))
    assert(rows(alias) == rows(v2))
  }
}
